"""Relational core queries: scans, filters, aggregations, joins, set ops.

The reference engine has no relational operators at all (SURVEY.md §2.6) —
this module is the Spark-native extension that makes the engine a real
analytics engine over the TPC-H-ish test tables. Every query is written
declaratively (DataFrame API -> Catalyst) so filter pushdown, column
pruning, partial aggregation, and broadcast-join selection happen
automatically. Scale notes are on each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.queries.tables import dim, maybe_broadcast, t

# ---------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 analog.
# Scale: single shuffle on (returnflag, linestatus) with map-side partial
# aggregation; cardinality of the grouping key is tiny (~6), so the reduce
# side is trivial at any scale. Filter pushes down to the parquet scan.
# ---------------------------------------------------------------------------


def _exact_micro_sum(expr):
    """Order-independent exact sum of a money expression whose true value
    terminates at <= 6 decimals (price 2dp x discount 2dp x tax 2dp).
    Scale to the 1e-6 integer grid per row and recover the exact integer
    with floor(x*1e6 + 0.5): the double error of the 3-mult product is
    ~1e-4 ULP-accumulated, far under 0.5, so this is exact for any sign
    while avoiding per-row BigDecimal F.round (~2x faster). Sum as
    decimal(18,0) so the merged total is decimal(28,0) — no long overflow
    at any realistic scale (~1e17 rows). Double sums here would carry
    order-dependent noise bigger than a 6th decimal and land on half-cent
    round ties (same pattern as q9_product_profit)."""
    return F.sum(F.floor(expr * 1e6 + F.lit(0.5)).cast("decimal(18,0)"))


def _micro() -> F.Column:
    """Exact-decimal unscale divisor: decimal(28,0)/decimal(7,0) -> decimal
    scale 8 per Spark's division rule, which represents the 6-decimal true
    quotient exactly (no double round-trip). Built lazily — F.lit needs an
    active SparkContext, which module import must not assume."""
    return F.lit(1000000).cast("decimal(7,0)")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-06-30 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # Unscale + final round stay in decimal (6-row agg output, cost
            # nil): /1e6 as a double would lose exactness past 2^53 micro
            # units and could flip a half-cent tie at sf >= 1.
            F.round(_exact_micro_sum(disc_price) / _micro(), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(_exact_micro_sum(charge) / _micro(), 2)
            .cast("double")
            .alias("sum_charge"),
            # Averages derive from the exact-grid rounded sums divided by
            # the count — identical doubles on both engines with no final
            # rounding, so no round-half tie is possible (see skew_q).
            # NOTE: this deviates from the TPC-H answer format, which
            # rounds avg_qty/avg_price to 4dp and avg_disc to 6dp; for
            # answer-set conformance use round(round(sum,2)/count, 4|6)
            # on both engines instead of dropping the final rounding.
            (F.round(F.sum("l_quantity"), 2) / F.count("l_quantity")).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / F.count("l_extendedprice")).alias(
                "avg_price"
            ),
            (F.round(F.sum("l_discount"), 2) / F.count("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))), 2) AS DOUBLE)            AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(18,6))), 2) AS DOUBLE)            AS sum_charge,
       round(sum(l_quantity), 2) / count(l_quantity)                    AS avg_qty,
       round(sum(l_extendedprice), 2) / count(l_extendedprice)          AS avg_price,
       round(sum(l_discount), 2) / count(l_discount)                    AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q6_forecast_revenue — TPC-H Q6 analog: pure filter + global sum.
# Scale: fully map-side (partial sums) + single-row reduce; all three
# predicates push down to parquet row-group statistics.
# ---------------------------------------------------------------------------


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       count(*)                                    AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# q3_top_orders — TPC-H Q3 analog: 3-way join + agg + deterministic top-10.
# Scale: customer is small relative to lineitem -> Catalyst/AQE picks
# broadcast for the filtered customer side; orders⋈lineitem shuffles on
# orderkey (both sides keyed on it — a co-partitioned shuffle join). The
# top-10 uses TakeOrdered (no global sort materialization).
# ---------------------------------------------------------------------------


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            maybe_broadcast(cust, sf_dir, "customer"),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q5_region_revenue — TPC-H Q5 analog: 6-way snowflake join.
# Scale: region/nation/supplier/customer are dimension tables ->
# broadcast; only orders⋈lineitem is a large shuffle join on orderkey.
# ---------------------------------------------------------------------------


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dim() = size-guarded broadcast: supplier/customer scale with the
    # dataset (1e9 rows at 100 TB — never force-broadcast those); the
    # hint applies only while the scan is genuinely broadcast-sized.
    region = dim(spark, sf_dir, "region")
    nation = dim(spark, sf_dir, "nation")
    cust = dim(spark, sf_dir, "customer")
    supp = dim(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


_Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# join_semi / join_anti — EXISTS / NOT EXISTS as left_semi / left_anti.
# Scale: semi/anti joins shuffle only the keys of the probe side and
# never duplicate rows; with a small filtered build side AQE converts to
# broadcast. This is the idiomatic "customers with/without orders" at
# any scale — no distinct-then-join materialization.
# ---------------------------------------------------------------------------


def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
)
ORDER BY c_custkey
"""


def join_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no 2001 orders (non-empty at every scale factor)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 2001)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND year(o_orderdate) = 2001
)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# agg_distinct_parts — exact count-distinct per group, TWO distinct
# columns. Catalyst plans multi-distinct via Expand (3x row replication
# with a gid column, then two aggregate phases) — measured at sf0.1 /
# local[32] that loses to computing each distinct as its own narrow
# (suppkey, value) pre-aggregate and joining the per-suppkey results:
# median 1.22s vs 1.78s (one-session A/B, commit 5f5f369). Why: each
# pre-aggregate shuffles only its own 2-column pairs after map-side
# dedup, while Expand ships 3x the full rows; and the three aggregates
# all come out hash-partitioned on l_suppkey, so the joins add no
# exchange (co-partitioned). At 100 TB the same argument holds — three
# narrow combinable shuffles beat one 3x-wide one.
# ---------------------------------------------------------------------------


def agg_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    parts = (
        li.select("l_suppkey", "l_partkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_parts"))
    )
    orders = (
        li.select("l_suppkey", "l_orderkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_orders"))
    )
    qty = li.groupBy("l_suppkey").agg(
        F.round(F.sum("l_quantity"), 2).alias("total_qty")
    )
    return parts.join(orders, "l_suppkey").join(qty, "l_suppkey").orderBy("l_suppkey")


_DISTINCT_SQL = """
SELECT l_suppkey,
       count(DISTINCT l_partkey)  AS n_parts,
       count(DISTINCT l_orderkey) AS n_orders,
       round(sum(l_quantity), 2)  AS total_qty
FROM lineitem
GROUP BY l_suppkey
ORDER BY l_suppkey
"""


# ---------------------------------------------------------------------------
# rollup_order_stats — hierarchical aggregate (status -> priority).
# Scale: Spark expands rollup into a single Expand+aggregate (one
# shuffle); grouping-set count is constant.
# ---------------------------------------------------------------------------


def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# set ops — INTERSECT / EXCEPT with distinct semantics.
# Scale: both compile to aggregate/join on the full row key — one
# shuffle each; inputs are pre-projected to the single key column so the
# shuffled payload is minimal.
# ---------------------------------------------------------------------------


def set_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    y1996 = orders.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y1997 = orders.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    return y1996.intersect(y1997).orderBy("custkey")


_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
ORDER BY custkey
"""


def set_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    y1996 = orders.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y1997 = orders.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    # SQL EXCEPT has distinct semantics -> DataFrame.subtract (not exceptAll)
    return y1996.subtract(y1997).orderBy("custkey")


_EXCEPT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
ORDER BY custkey
"""


# ---------------------------------------------------------------------------
# union_all_priority_sample — UNION ALL preserving duplicates.
# ---------------------------------------------------------------------------


def set_union_high_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit("high").alias("band")
    )
    lo = orders.filter(F.col("o_totalprice") < 20000).select(
        "o_orderkey", F.lit("low").alias("band")
    )
    return hi.unionByName(lo).orderBy("o_orderkey", "band")


_UNION_SQL = """
SELECT o_orderkey, 'high' AS band FROM orders WHERE o_totalprice > 300000
UNION ALL
SELECT o_orderkey, 'low'  AS band FROM orders WHERE o_totalprice < 20000
ORDER BY o_orderkey, band
"""


# ---------------------------------------------------------------------------
# case_bucket_orders — CASE WHEN bucketing + conditional aggregation.
# ---------------------------------------------------------------------------


def case_bucket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        orders.withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", F.lit(1)).otherwise(F.lit(0))
            ).alias("n_finished"),
        )
        .orderBy("band")
    )


_CASE_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS band,
       count(*) AS n_orders,
       round(avg(o_totalprice), 4) AS avg_price,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
FROM orders
GROUP BY 1
ORDER BY band
"""


# ---------------------------------------------------------------------------
# json_extract_events — JSON scalar functions over events.props.
# Scale: get_json_object is a codegen'd JVM expression — no Python; one
# shuffle on event_type.
# ---------------------------------------------------------------------------


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_JSON_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# json_variant_events — the Spark 4 VARIANT path for semi-structured
# data: each event's fields (plus the JSON props payload) are composed
# into one nested document, parsed ONCE into the binary VARIANT
# encoding, and every downstream extraction is a typed variant_get on
# the encoded value — the lakehouse pattern for repeated sub-field
# access where re-parsing JSON text per path would dominate the scan
# at 100 TB. The oracle computes the same aggregates straight from the
# base columns, so a green hash proves the construct -> parse_json ->
# variant_get round trip is lossless for every extracted type
# (bigint, nested object path, array index, string). Money rides as
# integer cents inside the document — no float-in-JSON hazard.
# ---------------------------------------------------------------------------


def json_variant_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    doc = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"),
                F.col("event_type").alias("type"),
                F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
                F.struct(
                    F.col("user_id").alias("id"),
                    F.get_json_object("props", "$.k")
                    .cast("long")
                    .alias("k"),
                ).alias("u"),
                F.array(F.col("event_type"), F.lit("v1")).alias("tags"),
            )
        )
    )
    v = ev.select(doc.alias("v"))
    return (
        v.select(
            F.variant_get("v", "$.type", "string").alias("event_type"),
            F.variant_get("v", "$.cents", "bigint").alias("cents"),
            F.variant_get("v", "$.u.id", "bigint").alias("uid"),
            F.variant_get("v", "$.u.k", "bigint").alias("k"),
            F.variant_get("v", "$.tags[1]", "string").alias("tag1"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.count_distinct("uid").cast("long").alias("n_users"),
            F.max("k").alias("max_k"),
            F.min(F.col("tag1") == "v1").alias("all_v1"),
        )
        .orderBy("event_type")
    )


_VARIANT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k,
       TRUE AS all_v1
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# pivot_status_by_priority — pivot with explicit values (scales: explicit
# value list avoids the extra distinct-collection job Spark otherwise runs).
# Oracle expressed as conditional aggregation (ANSI-safe).
# ---------------------------------------------------------------------------


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )
    return (
        out.select(
            "o_orderpriority",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


_PIVOT_SQL = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# scalar_function_battery — one pass over orders exercising the scalar
# function library broadly (string/date/math/conditional), every
# expression aliased identically in both engines. Catches any semantic
# drift in individual functions with a single cheap query.
# ---------------------------------------------------------------------------


def scalar_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderstatus", 1, 1)).alias("status_u"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key_pad"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("abs_diff"),
        F.ceil(F.col("o_totalprice") / 1000.0).cast("bigint").alias("price_k_ceil"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("bigint").alias("price_k_floor"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).alias("key_mod7"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("o_totalprice")), 6).alias("price_ln"),
        F.when(F.col("o_totalprice") > 150000, "high")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("low")
        .alias("bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_coalesced"
        ),
        F.greatest(F.col("o_orderkey") % 10, F.col("o_custkey") % 10).alias("g10"),
    ).orderBy("o_orderkey")


_SCALAR_SQL = """
SELECT o_orderkey,
       upper(substr(o_orderstatus, 1, 1)) AS status_u,
       CAST(length(o_orderpriority) AS INT) AS prio_len,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
       lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_pad,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(day(o_orderdate) AS INT) AS d,
       CAST(quarter(o_orderdate) AS INT) AS q,
       round(abs(o_totalprice - 100000.0), 2) AS abs_diff,
       CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS price_k_ceil,
       CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_k_floor,
       o_orderkey % 7 AS key_mod7,
       round(sqrt(o_totalprice), 4) AS price_sqrt,
       round(ln(o_totalprice), 6) AS price_ln,
       CASE WHEN o_totalprice > 150000 THEN 'high'
            WHEN o_totalprice > 50000 THEN 'mid'
            ELSE 'low' END AS bucket,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_coalesced,
       greatest(o_orderkey % 10, o_custkey % 10) AS g10
FROM orders
WHERE o_orderkey % 97 = 0
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# unpivot_order_metrics — wide -> long melt (the inverse of pivot).
# Aggregates orders per status into four metric columns, then unpivots
# them into (status, metric, value) rows via DataFrame.unpivot (Spark's
# Expand-based melt — one projection per metric, NO shuffle beyond the
# aggregation's own). The canonical reshape before generic per-metric
# processing (alerting thresholds, metric stores).
# Scale: the unpivot multiplies rows by the constant metric count only.
# ---------------------------------------------------------------------------


def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_orders", "total_price", "min_price", "max_price"],
        "metric",
        "value",
    ).orderBy("o_orderstatus", "metric")


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(count(*) AS DOUBLE) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price,
         round(min(o_totalprice), 2) AS min_price,
         round(max(o_totalprice), 2) AS max_price
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderstatus, 'total_price', total_price FROM wide
UNION ALL
SELECT o_orderstatus, 'min_price', min_price FROM wide
UNION ALL
SELECT o_orderstatus, 'max_price', max_price FROM wide
ORDER BY o_orderstatus, metric
"""


# ---------------------------------------------------------------------------
# agg_percentile_prices — ordered-set aggregates (exact interpolated
# percentiles per group). Spark's `percentile` and DuckDB's
# `quantile_cont` both use linear interpolation on the sorted group, and
# the arithmetic matches bit-for-bit (verified; truncation is belt and
# braces). Scale: exact percentiles sort within each group — fine for
# bounded group sizes; for 100 TB unbounded groups switch to
# approx_percentile (t-digest) cutpoints, same output contract
# (see agg_approx_distinct_parts for the sketch-aggregate pattern).
# ---------------------------------------------------------------------------


def agg_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", [0.25, 0.5, 0.75, 0.9])
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            *[
                (F.floor(pct[i] * 10000) / 10000).alias(name)
                for i, name in enumerate(["p25", "p50", "p75", "p90"])
            ],
        )
        .orderBy("o_orderstatus")
    )


_PERCENTILE_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       floor(quantile_cont(o_totalprice, 0.25) * 10000) / 10000 AS p25,
       floor(quantile_cont(o_totalprice, 0.50) * 10000) / 10000 AS p50,
       floor(quantile_cont(o_totalprice, 0.75) * 10000) / 10000 AS p75,
       floor(quantile_cont(o_totalprice, 0.90) * 10000) / 10000 AS p90
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# agg_stats_battery — statistical aggregate battery (corr, covar pop/samp,
# stddev_pop, var_samp, struct-min/max argmin/argmax). One pass over
# orders; every function is a distributive/algebraic aggregate (partial
# moments merge associatively), so map-side combine applies and the
# exchange carries O(groups) moment tuples. Argmin/argmax use
# lexicographic (measure, key) struct extremes for a deterministic
# tie-break (bare min_by is engine-defined under ties); mode() is
# deliberately excluded — its tie-breaking is engine-defined, a
# semantic (not precision) gap.
# ---------------------------------------------------------------------------


def agg_stats_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            (F.floor(F.corr("o_totalprice", "o_custkey") * 1e6) / 1e6).alias("corr_pc"),
            (F.floor(F.covar_pop("o_totalprice", "o_custkey") * 100) / 100).alias(
                "covar_p"
            ),
            (F.floor(F.covar_samp("o_totalprice", "o_custkey") * 100) / 100).alias(
                "covar_s"
            ),
            (F.floor(F.stddev_pop("o_totalprice") * 10000) / 10000).alias("sd_pop"),
            (F.floor(F.var_samp("o_totalprice") * 100) / 100).alias("var_s"),
            # Argmin/argmax with an EXPLICIT tie-break: min/max over a
            # (measure, key) struct is lexicographic in both engines, so
            # equal measures resolve to the smallest (min) / largest (max)
            # key instead of whichever row the engine's combiner saw first.
            # Bare min_by/max_by is nondeterministic under ties — real data
            # duplicates measures constantly (caught at sf1, where the
            # replicated orders table has 10-way min/max-price ties).
            F.min(
                F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
            )["k"].alias("cheapest_order"),
            F.max(
                F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
            )["k"].alias("priciest_order"),
        )
        .orderBy("o_orderstatus")
    )


_STATS_SQL = """
SELECT o_orderstatus,
       floor(corr(o_totalprice, o_custkey) * 1e6) / 1e6 AS corr_pc,
       floor(covar_pop(o_totalprice, o_custkey) * 100) / 100 AS covar_p,
       floor(covar_samp(o_totalprice, o_custkey) * 100) / 100 AS covar_s,
       floor(stddev_pop(o_totalprice) * 10000) / 10000 AS sd_pop,
       floor(var_samp(o_totalprice) * 100) / 100 AS var_s,
       (min(struct_pack(p := o_totalprice, k := o_orderkey))).k AS cheapest_order,
       (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS priciest_order
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# agg_approx_distinct_parts — HyperLogLog++ cardinality sketch. THE
# scale move for count-distinct at 100 TB: the exact two-phase distinct
# expands rows (see agg_distinct_parts); the sketch is a fixed-size,
# mergeable state flowing through a normal partial aggregation — no
# expand, no second shuffle. DuckDB's approx_distinct uses a different
# sketch, so the raw estimate can't hash-match cross-engine; instead the
# compared output carries the error-bound CONTRACT as data: within_bound
# = |approx - exact| <= max(3, 3*rsd*exact) — the same 3-sigma-plus-
# small-count slack test_approx_distinct_error_bound uses — which the
# oracle asserts as literal TRUE. (A hard 5% bound on an rsd=0.02 sketch
# is only a ~2.5-sigma property: deterministic for a fixed dataset but
# legitimately violable by one group on regenerated or larger data —
# ADVICE r04.) Spark's HLL++ is deterministic for fixed input, so the
# boolean is stable; the absolute estimate is additionally pinned by
# tests/test_oracle_parity.py::test_approx_distinct_error_bound.
# ---------------------------------------------------------------------------


def agg_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch and exact sides are computed as SEPARATE aggregates and
    # joined co-partitioned on the group key: mixing countDistinct with
    # a regular aggregate in one groupBy makes Catalyst plan an Expand
    # (2x row replication) — measured 3.5s vs 0.9s at sf0.1/local[32]
    # for the split-and-join form (same pattern, same reason, as
    # agg_distinct_parts).
    li = t(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_suppkey").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts")
    )
    exact = (
        li.select("l_suppkey", "l_partkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("exact_parts"))
    )
    return (
        approx.join(exact, "l_suppkey")
        .select(
            "l_suppkey",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= F.greatest(F.lit(3.0), 3 * 0.02 * F.col("exact_parts"))
            ).alias("within_bound"),
        )
        .orderBy("l_suppkey")
    )


_APPROX_DISTINCT_SQL = """
SELECT l_suppkey,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_bound
FROM lineitem
GROUP BY l_suppkey
ORDER BY l_suppkey
"""


# ---------------------------------------------------------------------------
# sketch_theta_audience_overlap — audience overlap via THETA sketches
# (Datasketches, Spark 4.1 builtins): one theta sketch of user_id per
# event type, then pairwise INTERSECTION / UNION estimates purely by
# combining the 10 sketches — the mergeable-summary answer to "how many
# users do segments A and B share". At 100 TB this is the only sane
# shape: sketch once per segment in one pass (map-side mergeable
# state), answer all O(|segments|^2) overlap questions WITHOUT
# re-scanning or re-shuffling raw pairs. Theta (unlike HLL) supports
# set intersection natively.
#
# Oracle pattern (same as agg_approx_distinct_parts): exact counts ride
# along from an exact distinct pass, the sketch estimates fold into
# error-contract BOOLEANS the oracle pins literally TRUE. Bounds
# validated at sf0.01 (sketch exact below nominal entries) and sf1
# (2.6% observed vs the 10%+16 / 5%+16 contracts).
# ---------------------------------------------------------------------------


def sketch_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("exact").alias("exact_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("exact").alias("exact_b"),
    )
    d = ev.distinct()
    exact_inter = (
        d.alias("x")
        .join(d.alias("y"), "user_id")
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.countDistinct("user_id").alias("exact_inter"))
    )
    est_i = F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b"))
    est_u = F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
    exact_u = F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")
    return (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .join(exact_inter, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            (
                F.abs(est_i - F.col("exact_inter"))
                <= F.greatest(F.lit(16.0), 0.10 * exact_u)
            ).alias("inter_ok"),
            (
                F.abs(est_u - exact_u)
                <= F.greatest(F.lit(16.0), 0.05 * exact_u)
            ).alias("union_ok"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# sketch_theta_overlap_matrix — the full pairwise error-contract AUDIT
# of the theta-sketch overlap matrix (VERDICT r07 #7, made
# hash-checkable in r13 per VERDICT r12 #4): the production leg
# sketches user_id once per segment in a single scan (map-side
# mergeable state, one |segments|-row shuffle) and answers every
# pairwise single/intersection/union question purely by combining the
# 10 sketches. Because raw theta estimates are not SQL-expressible,
# the recordable output folds each estimate into an error-contract
# BOOLEAN against an exact ride-along leg (the same oracle pattern as
# agg_approx_distinct_parts / the twin below), so the driver's value
# hash now pins all FOUR contracts per pair: each single-segment
# estimate within max(16, 5%), the intersection within max(16, 10% of
# the union), the union within max(16, 5%). A production deployment
# drops the four *_ok audit columns and the exact legs fall out of the
# select — the sketch subplan (ONE scan, broadcast T-row cross join)
# is what runs daily at 100 TB. sketch_theta_audience_overlap below
# stays the minimal 2-contract twin the earlier rounds recorded.
# ---------------------------------------------------------------------------


def sketch_theta_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("exact").alias("exact_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("exact").alias("exact_b"),
    )
    d = ev.distinct()
    exact_inter = (
        d.alias("x")
        .join(d.alias("y"), "user_id")
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.countDistinct("user_id").alias("exact_inter"))
    )
    est = F.theta_sketch_estimate
    exact_u = F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")
    # |segments| rows per side: the cross join is segment-count-squared,
    # never data-sized — broadcast keeps it driver-trivial.
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("type_a") < F.col("type_b"))
        .join(exact_inter, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("exact_inter").cast("long").alias("exact_inter"),
            exact_u.cast("long").alias("exact_union"),
            (
                F.abs(est("sk_a") - F.col("exact_a"))
                <= F.greatest(F.lit(16.0), 0.05 * F.col("exact_a"))
            ).alias("est_a_ok"),
            (
                F.abs(est("sk_b") - F.col("exact_b"))
                <= F.greatest(F.lit(16.0), 0.05 * F.col("exact_b"))
            ).alias("est_b_ok"),
            (
                F.abs(est(F.theta_intersection("sk_a", "sk_b")) - F.col("exact_inter"))
                <= F.greatest(F.lit(16.0), 0.10 * exact_u)
            ).alias("inter_ok"),
            (
                F.abs(est(F.theta_union("sk_a", "sk_b")) - exact_u)
                <= F.greatest(F.lit(16.0), 0.05 * exact_u)
            ).alias("union_ok"),
        )
        .orderBy("type_a", "type_b")
    )


_THETA_MATRIX_SQL = """
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact FROM d GROUP BY 1
),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(count(DISTINCT x.user_id) AS BIGINT) AS exact_inter
  FROM d x JOIN d y ON x.user_id = y.user_id
                   AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.exact_inter,
       CAST(a.exact + b.exact - i.exact_inter AS BIGINT) AS exact_union,
       TRUE AS est_a_ok, TRUE AS est_b_ok,
       TRUE AS inter_ok, TRUE AS union_ok
FROM inter i
JOIN per a ON a.event_type = i.type_a
JOIN per b ON b.event_type = i.type_b
ORDER BY i.type_a, i.type_b
"""


_THETA_OVERLAP_SQL = """
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact FROM d GROUP BY 1
),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(count(DISTINCT x.user_id) AS BIGINT) AS exact_inter
  FROM d x JOIN d y ON x.user_id = y.user_id
                   AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b,
       a.exact AS exact_a, b.exact AS exact_b, i.exact_inter,
       TRUE AS inter_ok, TRUE AS union_ok
FROM inter i
JOIN per a ON a.event_type = i.type_a
JOIN per b ON b.event_type = i.type_b
ORDER BY i.type_a, i.type_b
"""


# ---------------------------------------------------------------------------
# sketch_kll_price_quantiles — KLL quantile sketches (Datasketches,
# Spark 4.1 builtins): per-status order-price p50/p95 estimated from a
# fixed-size mergeable sketch, contract-checked against the TRUE rank
# of each estimate (|rank(est)/n - p| <= 2% + 1 row; observed <= 0.5%
# at sf1 with the default k=200). The mergeable-quantile shape: at
# 100 TB the sketch is a map-side-combined aggregate of bounded state,
# re-combinable across days/partitions — what a monitoring pipeline
# stores instead of raw value distributions. Complements the
# Greenwald-Khanna contract query (agg_approx_percentile_prices).
# ---------------------------------------------------------------------------


def sketch_kll_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    sk = (
        o.groupBy("o_orderstatus")
        .agg(
            F.kll_sketch_agg_double("o_totalprice").alias("sk"),
            F.count("*").alias("n"),
        )
        .select(
            "o_orderstatus",
            "n",
            F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("v50"),
            F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("v95"),
        )
    )
    ranked = (
        o.join(F.broadcast(sk), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.max("n").alias("n"),
            F.sum((F.col("o_totalprice") <= F.col("v50")).cast("long")).alias(
                "r50"
            ),
            F.sum((F.col("o_totalprice") <= F.col("v95")).cast("long")).alias(
                "r95"
            ),
        )
    )
    # integer-exact contract: |100*r - p*n| <= 2*n + 100 (2% + 1 row)
    return ranked.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n"),
        (F.abs(100 * F.col("r50") - 50 * F.col("n")) <= 2 * F.col("n") + 100)
        .alias("p50_rank_ok"),
        (F.abs(100 * F.col("r95") - 95 * F.col("n")) <= 2 * F.col("n") + 100)
        .alias("p95_rank_ok"),
    ).orderBy("o_orderstatus")


_KLL_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# agg_approx_percentile_prices — Greenwald-Khanna quantile sketch, the
# scale move for percentiles: the exact form (agg_percentile_prices)
# sorts every group's values, O(n log n) per group and memory-bound at
# 100 TB; percentile_approx keeps a fixed-size mergeable summary with a
# rank-error guarantee of 1/accuracy, flowing through normal partial
# aggregation. Cross-engine, the sketch values can't hash-match (GK
# picks actual elements; engines' summaries differ), so — same pattern
# as the HLL query — the compared output carries the rank-error
# CONTRACT as data: each approx quantile must lie within the exact
# [phi - 2eps, phi + 2eps] interpolated quantile envelope (2x the
# guarantee, absorbing interpolation-vs-element boundary slack), which
# the oracle asserts as literal TRUE. Spark's GK sketch is
# deterministic for fixed input, so the booleans are stable.
# ---------------------------------------------------------------------------


def agg_approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 optimization: the exact envelope used to ride the builtin
    # ``percentile()``, whose aggregation buffer holds every distinct
    # value of a group IN ONE TASK'S MEMORY — the memory-bound exact
    # shape this query's own docstring warns about. The envelope now
    # comes from ``interpolated_percentiles`` (cumulative-frequency
    # grid walk), which reproduces the builtin bit-for-bit (pinned by
    # tests/test_relational_ops.py), so the contract booleans are
    # unchanged. Wall-time at sf0.1 is a wash (interleaved A/B 1.1-1.9s
    # old vs 1.6-2.1s new: prices are 97% distinct, so the grid ~= N
    # and the per-group cum window serializes like the buffer sort did)
    # — the change buys the spill-able grid shape instead of the
    # unbounded per-group buffer. r16 (VERDICT r15 #6): the per-key
    # serialized cum window is now gone too — interpolated_percentiles
    # runs the grouped two-phase prefix sum over a pinned grid, so no
    # stage holds a data-scaled frame in one task (see the operator
    # docstring for the honest local cost and the bit-parity pin).
    from etl_ml_pipeline_spark.operators.relational import (
        interpolated_percentiles,
    )

    acc = 1000
    eps = 2.0 / acc
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(acc)
        ).alias("ap"),
        F.count("*").alias("n_rows"),
    )
    env = interpolated_percentiles(
        li.select("l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
        {
            "e50lo": 0.5 - eps,
            "e50hi": 0.5 + eps,
            "e95lo": 0.95 - eps,
            "e95hi": 0.95 + eps,
        },
    )
    return (
        # left join: a group whose values are all NULL has no grid row;
        # the builtin returned NULL bounds there, and a left join's
        # NULL-filled columns reproduce the same NULL booleans
        g.join(F.broadcast(env), "l_returnflag", "left")
        .select(
            "l_returnflag",
            "n_rows",
            ((F.col("ap")[0] >= F.col("e50lo")) & (F.col("ap")[0] <= F.col("e50hi"))).alias(
                "p50_in_bounds"
            ),
            ((F.col("ap")[1] >= F.col("e95lo")) & (F.col("ap")[1] <= F.col("e95hi"))).alias(
                "p95_in_bounds"
            ),
        )
        .orderBy("l_returnflag")
    )


_APPROX_PERCENTILE_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       TRUE AS p50_in_bounds,
       TRUE AS p95_in_bounds
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# cdc_current_orders — merge-on-read current view (lakehouse CDC): the
# orders snapshot plus a deterministic change batch (every 13th order
# re-priced at a later version, every 17th tombstoned); latest row per
# key wins, tombstones drop. One shuffle on the key (window argmax, no
# join). Oracle replays the same union + row_number in SQL.
# ---------------------------------------------------------------------------


def cdc_current_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import cdc_latest_view

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = o.withColumn("version", F.lit(1)).withColumn("deleted", F.lit(False))
    updates = (
        o.filter((F.col("o_orderkey") % 13 == 0) | (F.col("o_orderkey") % 17 == 0))
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("o_orderkey") % 17 == 0, F.col("o_orderstatus"))
            .otherwise(F.lit("U"))
            .alias("o_orderstatus"),
            (F.floor(F.col("o_totalprice") * 1.1 * 100) / 100).alias("o_totalprice"),
            F.lit(2).alias("version"),
            (F.col("o_orderkey") % 17 == 0).alias("deleted"),
        )
    )
    view = cdc_latest_view(base, updates, ["o_orderkey"], "version", "deleted")
    return (
        view.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


_CDC_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         1 AS version, FALSE AS deleted, 0 AS src
  FROM orders
),
updates AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 17 = 0 THEN o_orderstatus ELSE 'U' END AS o_orderstatus,
         floor(o_totalprice * 1.1 * 100) / 100 AS o_totalprice,
         2 AS version, o_orderkey % 17 = 0 AS deleted, 1 AS src
  FROM orders
  WHERE o_orderkey % 13 = 0 OR o_orderkey % 17 = 0
),
merged AS (SELECT * FROM base UNION ALL SELECT * FROM updates),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY o_orderkey ORDER BY version DESC, src DESC) AS rn
  FROM merged
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM ranked
WHERE rn = 1 AND NOT deleted
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# scd2_order_history — SCD Type-2 history build: versioned change rows ->
# validity intervals (valid_from / valid_to / is_current) via one
# lead() window per key — the warehouse companion to cdc_current_orders
# (latest-row view) and the substrate for point-in-time joins. The
# deterministic change stream has three versions (v1 snapshot, v2 every
# 13th order re-priced, v3 every 39th re-priced again) so interval
# chaining v1->v2->v3 is exercised, not just single-update pairs.
# Output is the compact per-(version, is_current) census; price sums run
# in DECIMAL(18,2) (values live on the cent grid after the floor-based
# re-pricing, so decimal summation is exact — q1/q9 pattern).
# ---------------------------------------------------------------------------


def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import scd2_history

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = o.withColumn("version", F.lit(1))
    v2 = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.floor(F.col("o_totalprice") * 1.1 * 100) / 100)
        .withColumn("version", F.lit(2))
    )
    v3 = (
        o.filter(F.col("o_orderkey") % 39 == 0)
        .withColumn("o_totalprice", F.floor(F.col("o_totalprice") * 1.2 * 100) / 100)
        .withColumn("version", F.lit(3))
    )
    hist = scd2_history(v1.unionByName(v2).unionByName(v3), ["o_orderkey"], "version")
    return (
        hist.groupBy("version", "is_current")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
            F.sum(F.coalesce(F.col("valid_to") - F.col("valid_from"), F.lit(0)))
            .cast("long")
            .alias("total_span"),
        )
        .orderBy("version", "is_current")
    )


_SCD2_SQL = """
WITH changes AS (
  SELECT o_orderkey, o_totalprice, 1 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, floor(o_totalprice * 1.1 * 100) / 100, 2
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey, floor(o_totalprice * 1.2 * 100) / 100, 3
  FROM orders WHERE o_orderkey % 39 = 0
),
hist AS (
  SELECT o_orderkey, o_totalprice, version,
         version AS valid_from,
         lead(version) OVER (PARTITION BY o_orderkey ORDER BY version ASC) AS valid_to
  FROM changes
)
SELECT version,
       valid_to IS NULL AS is_current,
       count(*) AS n_rows,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
       CAST(sum(COALESCE(valid_to - valid_from, 0)) AS BIGINT) AS total_span
FROM hist
GROUP BY version, valid_to IS NULL
ORDER BY version, is_current
"""


# ---------------------------------------------------------------------------
# scd2_point_in_time_join — consume the SCD2 history: fact rows carrying
# an as-of version join to the dimension row that was truth AT that
# version (key equality + interval containment). The plan is an
# equi-join on the key with the interval predicate as a post-join
# filter — correct AND scale-right here because version chains are
# short (<= 3 rows/key), so the equi-join fan-out is bounded; a general
# long-interval case would use the banded range join
# (operators/asof.py) instead. Lineitem rows get a deterministic
# pseudo as-of version (1 + l_linenumber % 3); output is the per-
# (as_of, matched-version) census with decimal-exact price sums.
# ---------------------------------------------------------------------------


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import scd2_history

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = o.withColumn("version", F.lit(1))
    v2 = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.floor(F.col("o_totalprice") * 1.1 * 100) / 100)
        .withColumn("version", F.lit(2))
    )
    v3 = (
        o.filter(F.col("o_orderkey") % 39 == 0)
        .withColumn("o_totalprice", F.floor(F.col("o_totalprice") * 1.2 * 100) / 100)
        .withColumn("version", F.lit(3))
    )
    hist = scd2_history(v1.unionByName(v2).unionByName(v3), ["o_orderkey"], "version")
    facts = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (1 + F.col("l_linenumber") % 3).alias("as_of")
    )
    joined = facts.join(hist, facts.l_orderkey == hist.o_orderkey).filter(
        (F.col("valid_from") <= F.col("as_of"))
        & (F.col("as_of") < F.coalesce(F.col("valid_to"), F.lit(1 << 30)))
    )
    return (
        joined.groupBy("as_of", "version")
        .agg(
            F.count("*").alias("n_facts"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_dim_price"),
        )
        .orderBy("as_of", "version")
    )


_SCD2_PIT_SQL = """
WITH changes AS (
  SELECT o_orderkey, o_totalprice, 1 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, floor(o_totalprice * 1.1 * 100) / 100, 2
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey, floor(o_totalprice * 1.2 * 100) / 100, 3
  FROM orders WHERE o_orderkey % 39 = 0
),
hist AS (
  SELECT o_orderkey, o_totalprice, version,
         version AS valid_from,
         lead(version) OVER (PARTITION BY o_orderkey ORDER BY version ASC) AS valid_to
  FROM changes
),
facts AS (
  SELECT l_orderkey, 1 + l_linenumber % 3 AS as_of FROM lineitem
)
SELECT f.as_of, h.version,
       count(*) AS n_facts,
       CAST(round(sum(CAST(h.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_dim_price
FROM facts f
JOIN hist h ON f.l_orderkey = h.o_orderkey
WHERE h.valid_from <= f.as_of AND f.as_of < COALESCE(h.valid_to, 1 << 30)
GROUP BY f.as_of, h.version
ORDER BY f.as_of, h.version
"""


# ---------------------------------------------------------------------------
# diff_order_snapshots — snapshot reconciliation: orders vs a
# deterministically mutated copy (every 13th re-priced -> changed, every
# 17th dropped -> removed, offset-key copies added). Hash-only full-outer
# join; per-status counts + key ranges keep the output compact.
# ---------------------------------------------------------------------------


def diff_order_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import table_diff

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    mutated = (
        o.filter(F.col("o_orderkey") % 17 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 13 == 0,
                F.floor(F.col("o_totalprice") * 1.1 * 100) / 100,
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 19 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    diff = table_diff(o, mutated, ["o_orderkey"])
    return (
        diff.groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("status")
    )


_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
mutated AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0
              THEN floor(o_totalprice * 1.1 * 100) / 100
              ELSE o_totalprice END AS o_totalprice
  FROM base WHERE o_orderkey % 17 != 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % 19 = 0
),
lh AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31),
             coalesce(CAST(o_orderstatus AS VARCHAR), chr(0) || 'null'),
             coalesce(CAST(o_totalprice AS VARCHAR), chr(0) || 'null'))) AS h
  FROM base
),
rh AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31),
             coalesce(CAST(o_orderstatus AS VARCHAR), chr(0) || 'null'),
             coalesce(CAST(o_totalprice AS VARCHAR), chr(0) || 'null'))) AS h
  FROM mutated
),
diff AS (
  SELECT coalesce(lh.o_orderkey, rh.o_orderkey) AS o_orderkey,
         CASE WHEN lh.h IS NULL THEN 'added'
              WHEN rh.h IS NULL THEN 'removed'
              WHEN lh.h != rh.h THEN 'changed' END AS status
  FROM lh FULL OUTER JOIN rh USING (o_orderkey)
)
SELECT status, count(*) AS n_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM diff
WHERE status IS NOT NULL
GROUP BY status
ORDER BY status
"""


# ---------------------------------------------------------------------------
# agg_incremental_refresh — materialized-view maintenance: refresh a
# per-status aggregate from a CDC batch WITHOUT re-aggregating the base.
# The refreshed aggregate is base_agg ⊕ delta, where delta holds the
# retracted contribution of each changed/deleted row and the added
# contribution of each upsert — the classic incremental-view-maintenance
# identity for distributive aggregates (sum/count; avg = sum/count).
# The oracle recomputes the aggregate from the merged final state
# directly, proving the incremental path lands on the IDENTICAL result
# (sums stay on the exact DECIMAL cent grid, so ⊕ is associative).
# Scale: the refresh shuffles O(|changes| + |groups|) rows — at 100 TB
# the base is never rescanned when the CDC stream carries before-images;
# the key semi-join here stands in for those (no-before-image CDC).
# ---------------------------------------------------------------------------


def agg_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import incremental_agg_refresh

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # The exact-grid measure the maintained aggregate sums (float
    # retraction would leave roundoff residue — operator docstring).
    dec = lambda df: df.withColumn(  # noqa: E731
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    base = dec(o.filter(F.col("o_orderkey") % 17 != 0))

    # CDC batch: upserts re-price every 13th key (an update where the key
    # exists in base, an insert where it doesn't); deletes drop every
    # 23rd key not also upserted (disjoint ops — no ordering ambiguity).
    # The mutation runs on the raw double, exactly as the oracle does.
    ups = dec(
        o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_totalprice", F.floor(F.col("o_totalprice") * 1.1 * 100) / 100
        )
    )
    dels = o.filter(
        (F.col("o_orderkey") % 23 == 0) & (F.col("o_orderkey") % 13 != 0)
    ).select("o_orderkey")

    base_agg = base.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"), F.sum("price_dec").alias("tot")
    )
    refreshed = incremental_agg_refresh(
        base, base_agg, ups, dels, "o_orderkey", "o_orderstatus", "price_dec"
    )
    return refreshed.select(
        "o_orderstatus",
        F.col("cnt").alias("n_orders"),
        F.round("tot", 2).cast("double").alias("total_price"),
    ).orderBy("o_orderstatus")


_INCR_REFRESH_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 17 != 0
),
ups AS (
  SELECT o_orderkey, o_orderstatus,
         floor(o_totalprice * 1.1 * 100) / 100 AS o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
),
dels AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 23 = 0 AND o_orderkey % 13 != 0
),
final AS (
  SELECT * FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
    AND o_orderkey NOT IN (SELECT o_orderkey FROM dels)
  UNION ALL
  SELECT * FROM ups
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_price
FROM final
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# versioned_time_travel — the snapshot-versioned parquet store
# (operators/versioned.py: immutable _v=N directories behind an
# atomically-swapped manifest) exercised as a catalog query: publish
# two versions, then read BOTH the historical v1 (time travel) and the
# manifest's latest, and aggregate each. The oracle recomputes both
# snapshots' aggregates from the raw table — the published v1 must be
# bit-identical to what was written even after v2 superseded it.
# Scale: each version write is one data pass; time travel is a scan of
# one immutable directory (no log replay); sums on the DECIMAL grid.
# ---------------------------------------------------------------------------


def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from etl_ml_pipeline_spark.operators.versioned import (
        read_version,
        write_version,
    )

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="vstore_tt_")
    write_version(o.filter(F.col("o_orderkey") % 2 == 0), path, "even keys")
    write_version(
        o.withColumn(
            "o_totalprice", F.floor(F.col("o_totalprice") * 1.05 * 100) / 100
        ),
        path,
        "repriced full set",
    )

    def snap_agg(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        ).select(F.lit(label).alias("snapshot"), "n_orders", "total_price")

    return (
        snap_agg(read_version(spark, path, 1), "v1")
        .unionByName(snap_agg(read_version(spark, path), "latest"))
        .orderBy("snapshot")
    )


_TIME_TRAVEL_SQL = """
SELECT 'latest' AS snapshot,
       count(*) AS n_orders,
       CAST(round(sum(CAST(floor(o_totalprice * 1.05 * 100) / 100
                           AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
UNION ALL
SELECT 'v1' AS snapshot,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_price
FROM orders WHERE o_orderkey % 2 = 0
ORDER BY snapshot
"""


# ---------------------------------------------------------------------------
# hist_order_prices — equi-width histogram via width_bucket: one
# map-side bucket assignment + one tiny shuffle on the bucket id; the
# standard distribution-profiling scan. Bounds fixed (not data-derived)
# so the bucketing is a pure projection — at 100 TB a data-derived range
# adds one cheap min/max pre-pass, same shape as the z-order stats.
# ---------------------------------------------------------------------------

_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 600_000.0, 12


def hist_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    bucket = F.width_bucket(
        F.col("o_totalprice"), F.lit(_HIST_LO), F.lit(_HIST_HI), F.lit(_HIST_BINS)
    )
    return (
        o.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# DuckDB has no width_bucket; replicate Spark's exact arithmetic:
# 0 below range, bins+1 at/above the upper bound, else
# floor((x - lo) / ((hi - lo)/bins)) + 1 — identical double expression.
_HIST_SQL = f"""
SELECT CASE WHEN o_totalprice < {_HIST_LO} THEN 0
            WHEN o_totalprice >= {_HIST_HI} THEN {_HIST_BINS + 1}
            ELSE CAST(floor((o_totalprice - {_HIST_LO})
                            / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})) AS BIGINT) + 1
       END AS bucket,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# hist_equidepth_prices — EQUI-DEPTH histogram of order prices: 9
# nearest-rank decile boundaries (exact integer cents via
# operators/relational.nearest_rank_cuts — the optimizer-statistics
# shape), then each grid row's bucket as a sum of boundary comparisons
# and a 10-row count aggregate. Bucket
# counts are near-n/10 by construction, off only by boundary ties —
# which both engines resolve identically on the integer grid.
# ---------------------------------------------------------------------------


def hist_equidepth_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 rework (the perplexity-buckets grid pattern): a row's bucket
    # depends only on its cent value c, so the decile cuts AND the
    # final histogram both come from the c-frequency grid — one orders
    # scan, no order-scale crossJoin + re-aggregate (the previous
    # bounds-aggregate + tagging diamond scanned orders twice). The
    # cuts are window aggregates over the keyless grid (the grid walk
    # was already one task under g=1).
    from etl_ml_pipeline_spark.operators.relational import nearest_rank_cuts

    o = t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c")
    )
    freqs = o.groupBy("c").agg(F.count("*").alias("__f"))
    tagged = nearest_rank_cuts(
        freqs, [], "c", {f"b{i}": (i, 10) for i in range(1, 10)}
    )
    bucket = None
    for i in range(1, 10):
        term = (F.col("c") > F.col(f"b{i}")).cast("int")
        bucket = term if bucket is None else bucket + term
    return (
        tagged.select(bucket.alias("bucket"), "c", "__f")
        .groupBy("bucket")
        .agg(
            F.sum("__f").alias("n"),
            (F.min("c") / 100.0).alias("lo"),
            (F.max("c") / 100.0).alias("hi"),
        )
        .orderBy("bucket")
    )


_EQUIDEPTH_SQL = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders
),
f AS (SELECT c, count(*) AS f FROM o GROUP BY 1),
w AS (
  SELECT c,
         sum(f) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(f) OVER () AS total
  FROM f
),
b AS (
  SELECT
    min(CASE WHEN cum >= (1 * total + 9) // 10 THEN c END) AS b1,
    min(CASE WHEN cum >= (2 * total + 9) // 10 THEN c END) AS b2,
    min(CASE WHEN cum >= (3 * total + 9) // 10 THEN c END) AS b3,
    min(CASE WHEN cum >= (4 * total + 9) // 10 THEN c END) AS b4,
    min(CASE WHEN cum >= (5 * total + 9) // 10 THEN c END) AS b5,
    min(CASE WHEN cum >= (6 * total + 9) // 10 THEN c END) AS b6,
    min(CASE WHEN cum >= (7 * total + 9) // 10 THEN c END) AS b7,
    min(CASE WHEN cum >= (8 * total + 9) // 10 THEN c END) AS b8,
    min(CASE WHEN cum >= (9 * total + 9) // 10 THEN c END) AS b9
  FROM w
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       min(c) / 100.0 AS lo, max(c) / 100.0 AS hi
FROM (
  SELECT CASE WHEN o.c > b.b1 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b2 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b3 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b4 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b5 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b6 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b7 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b8 THEN 1 ELSE 0 END + CASE WHEN o.c > b.b9 THEN 1 ELSE 0 END AS bucket, o.c
  FROM o CROSS JOIN b
)
GROUP BY bucket
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# recon_order_totals — financial reconciliation: does each order
# header's o_totalprice equal the sum of its line items'
# extendedprice*(1-discount)*(1+tax)? The audit every billing pipeline
# runs. Both sides land on the exact cent grid (line charges floor at
# the 6-decimal true grid then round to cents, header scales once), so
# the mismatch flag is pure integer comparison. One join-shuffle on
# o_orderkey, per-status rollup.
# ---------------------------------------------------------------------------


def recon_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    line_cents = F.round(
        _exact_micro_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        )
        / _micro()
        * 100,
        0,
    ).cast("long")
    li_sum = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        line_cents.alias("li_cents")
    )
    j = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("hdr_cents"),
    ).join(li_sum, "o_orderkey")
    diff = F.abs(F.col("hdr_cents") - F.col("li_cents"))
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((diff > 1).cast("long")).alias("n_mismatched"),
            F.max(diff).alias("max_abs_diff_cents"),
        )
        .orderBy("o_orderstatus")
    )


_RECON_SQL = """
WITH li AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                  * (1 + l_tax) * 1e6 + 0.5) AS DECIMAL(18,0))) AS DECIMAL(28,0))
                / CAST(1000000 AS DECIMAL(7,0)) * 100, 0) AS BIGINT) AS li_cents
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderstatus,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS hdr_cents,
         li.li_cents
  FROM orders o JOIN li USING (o_orderkey)
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN abs(hdr_cents - li_cents) > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatched,
       CAST(max(abs(hdr_cents - li_cents)) AS BIGINT) AS max_abs_diff_cents
FROM j
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# skyline_parts_pareto — 2D Pareto skyline over part: the parts for
# which no other part is both cheaper (retail price, exact cents) and
# larger (size). The multi-criteria "best tradeoff frontier" operator.
# Spark side uses the grid-walk reformulation
# (operators/relational.skyline_2d — one aggregate + a |sizes|-row
# suffix-min window + a broadcast join, never an all-pairs join); the
# oracle states dominance directly as NOT EXISTS, so the differential
# proves the reformulation equivalent on real data. All comparisons on
# integer grids (cents, size) — no float-tie hazard.
# ---------------------------------------------------------------------------


def skyline_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import skyline_2d

    parts = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_cents"),
        F.col("p_size").cast("int").alias("p_size"),
    )
    return skyline_2d(parts, "price_cents", "p_size").select(
        "p_partkey", "price_cents", "p_size"
    ).orderBy("p_partkey")


_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(p_size AS INTEGER) AS p_size
  FROM part
)
SELECT b.p_partkey, b.price_cents, b.p_size
FROM p b
WHERE NOT EXISTS (
  SELECT 1 FROM p a
  WHERE a.price_cents <= b.price_cents AND a.p_size >= b.p_size
    AND (a.price_cents < b.price_cents OR a.p_size > b.p_size)
)
ORDER BY b.p_partkey
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "skyline_parts_pareto": skyline_parts_pareto,
    "cdc_current_orders": cdc_current_orders,
    "scd2_order_history": scd2_order_history,
    "scd2_point_in_time_join": scd2_point_in_time_join,
    "diff_order_snapshots": diff_order_snapshots,
    "agg_incremental_refresh": agg_incremental_refresh,
    "versioned_time_travel": versioned_time_travel,
    "hist_order_prices": hist_order_prices,
    "hist_equidepth_prices": hist_equidepth_prices,
    "recon_order_totals": recon_order_totals,
    "agg_percentile_prices": agg_percentile_prices,
    "agg_stats_battery": agg_stats_battery,
    "agg_approx_percentile_prices": agg_approx_percentile_prices,
    "agg_approx_distinct_parts": agg_approx_distinct_parts,
    "sketch_theta_audience_overlap": sketch_theta_audience_overlap,
    "sketch_theta_overlap_matrix": sketch_theta_overlap_matrix,
    "sketch_kll_price_quantiles": sketch_kll_price_quantiles,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q3_top_orders": q3_top_orders,
    "q5_region_revenue": q5_region_revenue,
    "join_semi_active_customers": join_semi_active_customers,
    "join_anti_inactive_customers": join_anti_inactive_customers,
    "agg_distinct_parts": agg_distinct_parts,
    "rollup_order_stats": rollup_order_stats,
    "set_repeat_customers": set_repeat_customers,
    "set_lapsed_customers": set_lapsed_customers,
    "set_union_high_low": set_union_high_low,
    "case_bucket_orders": case_bucket_orders,
    "json_extract_events": json_extract_events,
    "json_variant_events": json_variant_events,
    "pivot_status_by_priority": pivot_status_by_priority,
    "scalar_function_battery": scalar_function_battery,
    "unpivot_order_metrics": unpivot_order_metrics,
}

ORACLES = {
    "q1_pricing_summary": _Q1_SQL,
    "skyline_parts_pareto": _SKYLINE_SQL,
    "cdc_current_orders": _CDC_SQL,
    "scd2_order_history": _SCD2_SQL,
    "scd2_point_in_time_join": _SCD2_PIT_SQL,
    "diff_order_snapshots": _DIFF_SQL,
    "agg_incremental_refresh": _INCR_REFRESH_SQL,
    "versioned_time_travel": _TIME_TRAVEL_SQL,
    "hist_order_prices": _HIST_SQL,
    "hist_equidepth_prices": _EQUIDEPTH_SQL,
    "recon_order_totals": _RECON_SQL,
    "agg_percentile_prices": _PERCENTILE_SQL,
    "agg_stats_battery": _STATS_SQL,
    "agg_approx_percentile_prices": _APPROX_PERCENTILE_SQL,
    "q6_forecast_revenue": _Q6_SQL,
    "q3_top_orders": _Q3_SQL,
    "q5_region_revenue": _Q5_SQL,
    "join_semi_active_customers": _SEMI_SQL,
    "join_anti_inactive_customers": _ANTI_SQL,
    "agg_distinct_parts": _DISTINCT_SQL,
    "agg_approx_distinct_parts": _APPROX_DISTINCT_SQL,
    "sketch_theta_audience_overlap": _THETA_OVERLAP_SQL,
    "sketch_theta_overlap_matrix": _THETA_MATRIX_SQL,
    "sketch_kll_price_quantiles": _KLL_SQL,
    "rollup_order_stats": _ROLLUP_SQL,
    "set_repeat_customers": _INTERSECT_SQL,
    "set_lapsed_customers": _EXCEPT_SQL,
    "set_union_high_low": _UNION_SQL,
    "case_bucket_orders": _CASE_SQL,
    "json_extract_events": _JSON_SQL,
    "json_variant_events": _VARIANT_SQL,
    "pivot_status_by_priority": _PIVOT_SQL,
    "scalar_function_battery": _SCALAR_SQL,
    "unpivot_order_metrics": _UNPIVOT_SQL,
}
