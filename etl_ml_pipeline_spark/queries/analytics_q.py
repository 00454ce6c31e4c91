"""Product-analytics + data-quality staples over the events/orders
tables: expectation batteries (Deequ-style), windowed anomaly
detection, ordered-funnel conversion, and weekly cohort retention.

The reference engine has none of these (SURVEY.md §2.6); they are the
queries a training-data/ops pipeline runs daily. Every query is
expressed declaratively and oracle-checked; the anomaly detector's
threshold predicate is EXACT integer-grid arithmetic so borderline
rows can never split across engines.

Gotcha (float tie-breaking): any predicate of the form
``metric > mean + k*std`` over doubles can disagree between Spark and
DuckDB on rows that land exactly at the boundary, because the two
engines may order the floating-point reduction differently. Keep
thresholds on an integer grid (counts, scaled-integer cents) or add a
strict epsilon margin so no input row can sit on the fence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.queries.tables import t


# ---------------------------------------------------------------------------
# dq_expectations_orders — data-quality expectation battery.
# One row per check: (check, metric, passed). Null fractions, key
# uniqueness, domain membership, range bounds, referential integrity.
# Scale: each check is a scan+aggregate (map-side partial); the
# referential check is a broadcast-free anti-join count on the join
# key. The exact countDistinct is fine on a key column (it IS the
# grouping key's cardinality); for 100 TB approximate audits swap in
# approx_count_distinct (see agg_approx_distinct_parts).
# ---------------------------------------------------------------------------


def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    base = o.agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_cust"),
        F.countDistinct("o_orderkey").alias("dist_keys"),
        F.min("o_totalprice").alias("min_price"),
        F.sum((~F.col("o_orderstatus").isin("F", "O", "P")).cast("long")).alias(
            "bad_status"
        ),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
            ).cast("long")
        ).alias("bad_date"),
    )
    checks = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("row_count").alias("check_name"),
                    F.col("n").cast("double").alias("metric"),
                    (F.col("n") > 0).alias("passed"),
                ),
                F.struct(
                    F.lit("null_custkey_count").alias("check_name"),
                    F.col("null_cust").cast("double").alias("metric"),
                    (F.col("null_cust") == 0).alias("passed"),
                ),
                F.struct(
                    F.lit("orderkey_duplicates").alias("check_name"),
                    (F.col("n") - F.col("dist_keys")).cast("double").alias("metric"),
                    (F.col("n") == F.col("dist_keys")).alias("passed"),
                ),
                F.struct(
                    F.lit("min_totalprice").alias("check_name"),
                    F.round(F.col("min_price"), 2).alias("metric"),
                    (F.col("min_price") >= 0).alias("passed"),
                ),
                F.struct(
                    F.lit("status_domain_violations").alias("check_name"),
                    F.col("bad_status").cast("double").alias("metric"),
                    (F.col("bad_status") == 0).alias("passed"),
                ),
                F.struct(
                    F.lit("orderdate_out_of_range").alias("check_name"),
                    F.col("bad_date").cast("double").alias("metric"),
                    (F.col("bad_date") == 0).alias("passed"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    orphans = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count("*").alias("k"))
        .select(
            F.lit("lineitem_orphan_rows").alias("check_name"),
            F.col("k").cast("double").alias("metric"),
            (F.col("k") == 0).alias("passed"),
        )
    )
    return checks.unionByName(orphans).orderBy("check_name")


_DQ_SQL = """
WITH base AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
         count(DISTINCT o_orderkey) AS dist_keys,
         min(o_totalprice) AS min_price,
         sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
           AS bad_status,
         sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                   OR o_orderdate >= TIMESTAMP '2000-01-01'
              THEN 1 ELSE 0 END) AS bad_date
  FROM orders
)
SELECT * FROM (
  SELECT 'row_count' AS check_name, CAST(n AS DOUBLE) AS metric, n > 0 AS passed
  FROM base
  UNION ALL
  SELECT 'null_custkey_count', CAST(null_cust AS DOUBLE), null_cust = 0 FROM base
  UNION ALL
  SELECT 'orderkey_duplicates', CAST(n - dist_keys AS DOUBLE), n = dist_keys
  FROM base
  UNION ALL
  SELECT 'min_totalprice', round(min_price, 2), min_price >= 0 FROM base
  UNION ALL
  SELECT 'status_domain_violations', CAST(bad_status AS DOUBLE), bad_status = 0
  FROM base
  UNION ALL
  SELECT 'orderdate_out_of_range', CAST(bad_date AS DOUBLE), bad_date = 0 FROM base
  UNION ALL
  SELECT 'lineitem_orphan_rows',
         CAST(count(*) AS DOUBLE), count(*) = 0
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
)
ORDER BY check_name
"""


# ---------------------------------------------------------------------------
# anomaly_zscore_events — rolling z-score outliers, EXACT threshold.
# Flags events whose value deviates > 2.5 sample stddevs from the
# trailing-20 window (current row excluded; >= 10 observations).
# The threshold predicate is evaluated on the 0.01-grid INTEGER sums
# (value is 2dp): with v = 100*value, S = sum(v), Q = sum(v^2), n,
#     |v*n - S| > 2.5 * sqrt(n * (n*Q - S^2) / (n-1))
# squares to  4*(v*n - S)^2 * (n-1) > 25 * n * (n*Q - S^2)
# — all integer arithmetic, so Spark and DuckDB agree on EVERY
# borderline row (double mean/std last-ulp noise cannot flip the
# filter). The reported z is floor-truncated for display parity.
# Scale: per-user rows window — one shuffle, state bounded by frame.
# ---------------------------------------------------------------------------


def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn(
        "v", F.round(F.col("value") * 100).cast("long")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    n = F.count("v").over(w)
    s = F.sum("v").over(w)
    q = F.sum(F.col("v") * F.col("v")).over(w)
    dev = F.col("v") * n - s          # n * (v - mean), scaled exact
    var_num = n * q - s * s           # n^2 * (n-1)/n * sample variance
    flagged = (
        ev.withColumn("n_w", n)
        .withColumn("dev", dev)
        .withColumn("var_num", var_num)
        .filter(
            (F.col("n_w") >= 10)
            & (F.col("var_num") > 0)
            & (
                4 * F.col("dev") * F.col("dev") * (F.col("n_w") - 1)
                > 25 * F.col("n_w") * F.col("var_num")
            )
        )
    )
    z = F.col("dev") / F.sqrt(
        F.col("n_w") * F.col("var_num") / (F.col("n_w") - 1)
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        (F.floor(z * 100) / 100).alias("zscore"),
    ).orderBy("user_id", "event_id")


_ANOMALY_SQL = """
SELECT user_id, event_id, round(value, 2) AS value,
       floor(dev / sqrt(n_w * var_num / (n_w - 1)) * 100) / 100 AS zscore
FROM (
  SELECT user_id, event_id, value,
         count(v)   OVER w AS n_w,
         v * count(v) OVER w - sum(v) OVER w AS dev,
         count(v) OVER w * sum(v * v) OVER w
           - sum(v) OVER w * sum(v) OVER w AS var_num
  FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS v FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
WHERE n_w >= 10 AND var_num > 0
  AND 4 * dev * dev * (n_w - 1) > 25 * n_w * var_num
ORDER BY user_id, event_id
"""


# ---------------------------------------------------------------------------
# funnel_events — ordered conversion funnel view -> click -> purchase.
# A user converts a stage only with an event AT OR AFTER their previous
# stage's first event (ordered semantics, not mere set membership).
# Scale: three user-keyed aggregates + two co-partitioned equi-joins on
# user_id; each stage shrinks the frame. No windows over global data.
# ---------------------------------------------------------------------------


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col("n_users"),
        )

    return (
        stage(views, 1, "view")
        .unionByName(stage(clicks, 2, "click"))
        .unionByName(stage(purchases, 3, "purchase"))
        .orderBy("stage_idx")
    )


_FUNNEL_SQL = """
WITH views AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), clicks AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN views v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id
), purchases AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM views
UNION ALL
SELECT 2, 'click', count(*) FROM clicks
UNION ALL
SELECT 3, 'purchase', count(*) FROM purchases
ORDER BY stage_idx
"""


# ---------------------------------------------------------------------------
# cohort_retention_events — weekly cohort retention matrix.
# Users cohort by the Monday-start week of their first event; each
# (cohort_week, week_offset) cell counts distinct users active that
# many weeks later. Scale: one user-keyed aggregate for cohorts, one
# distinct over (user, week) — both single shuffles; the join back is
# user-keyed and co-partitioned.
# ---------------------------------------------------------------------------


def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_COHORT_SQL = """
WITH cohorts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INT) AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohorts c USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# window_rolling_autocorr_events — trailing-20 lag-1 autocorrelation
# per user, EXACT cross-engine arithmetic. Pearson corr of (value,
# prev value) pairs from INTEGER window sums on the 0.01 grid:
#   corr = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))
# Every sum is a long; the single double division/sqrt is the same
# expression in both engines, so results agree to the last bit — the
# floor truncation is belt and braces. (Built-in corr() over a window
# would carry engine-specific summation order — same reason
# anomaly_zscore_events avoids stddev().)
# Scale: one per-user window after a lag projection — one shuffle.
# ---------------------------------------------------------------------------


def window_rolling_autocorr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn(
        "x", F.round(F.col("value") * 100).cast("long")
    )
    lagw = W.partitionBy("user_id").orderBy("ts", "event_id")
    paired = ev.withColumn("y", F.lag("x").over(lagw)).filter(F.col("y").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-19, 0)
    n = F.count("x").over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    out = (
        paired.withColumn("n_w", n)
        .withColumn("num", n * sxy - sx * sy)
        .withColumn("dx", n * sxx - sx * sx)
        .withColumn("dy", n * syy - sy * sy)
        .filter((F.col("n_w") >= 10) & (F.col("dx") > 0) & (F.col("dy") > 0))
    )
    corr = F.col("num") / F.sqrt(F.col("dx").cast("double") * F.col("dy").cast("double"))
    return out.select(
        "user_id",
        "event_id",
        (F.floor(corr * 10000) / 10000).alias("autocorr_lag1"),
    ).orderBy("user_id", "event_id")


_AUTOCORR_SQL = """
SELECT user_id, event_id,
       floor(num / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) * 10000)
         / 10000 AS autocorr_lag1
FROM (
  SELECT user_id, event_id,
         count(x) OVER w AS n_w,
         count(x) OVER w * sum(x * y) OVER w
           - sum(x) OVER w * sum(y) OVER w AS num,
         count(x) OVER w * sum(x * x) OVER w
           - sum(x) OVER w * sum(x) OVER w AS dx,
         count(x) OVER w * sum(y * y) OVER w
           - sum(y) OVER w * sum(y) OVER w AS dy
  FROM (
    SELECT user_id, event_id, ts, x,
           lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
    FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS x FROM events)
  )
  WHERE y IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
WHERE n_w >= 10 AND dx > 0 AND dy > 0
ORDER BY user_id, event_id
"""


# ---------------------------------------------------------------------------
# layout_partition_prune_stats — data-skipping evidence as a query:
# write events hive-partitioned by event_type (repartition on the
# partition column first, so each partition directory gets exactly ONE
# file), read it back, and report per-partition layout stats from
# input_file_name(). n_files == 1 per partition is the layout contract
# that makes partition pruning maximal: a predicate on event_type
# prunes to a single file at planning time (the plan-level guard lives
# in tests/test_plans.py; this entry puts the layout contract itself
# under the driver's differential). Key bounds are integer min/max —
# no float selection ties.
# Scale: the write is one shuffle on the partition column; stats are
# one scan of the rewritten layout. At 100 TB add a file-count target
# per partition (operators/layout.compact_files) instead of 1.
# ---------------------------------------------------------------------------


def layout_partition_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = t(spark, sf_dir, "events").select("event_id", "event_type")
    out = tempfile.mkdtemp(prefix="prune_stats_")
    (
        ev.repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out).withColumn("_file", F.input_file_name())
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("_file").alias("n_files"),
            F.min("event_id").alias("min_key"),
            F.max("event_id").alias("max_key"),
        )
        .withColumn("single_file", F.col("n_files") == 1)
        .orderBy("event_type")
    )


_PRUNE_STATS_SQL = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(1 AS BIGINT) AS n_files,
       min(event_id) AS min_key,
       max(event_id) AS max_key,
       TRUE AS single_file
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# window_new_vs_returning — daily active users split into first-ever-
# seen (new) vs returning, plus the cumulative distinct-user count.
# The cumulative count needs NO rolling distinct: a user is counted on
# exactly their first-seen day, so it is a running SUM of n_new — the
# standard trick that turns an O(days x users) rolling distinct into
# one groupBy(user) + one tiny day-level window.
# Scale: one shuffle to (day,user) distinct, one groupBy(user) for
# first-seen, one day-grain aggregate; the running-sum window orders
# ~days rows (thousands at century scale) — never user-cardinality.
# ---------------------------------------------------------------------------


def window_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    first_seen = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        du.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_active"),
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias("n_new"),
        )
        .withColumn("n_returning", F.col("n_active") - F.col("n_new"))
    )
    cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.withColumn("cum_users", F.sum("n_new").over(cum))
        .select(
            F.col("day").cast("date").cast("string").alias("day"),
            "n_active",
            "n_new",
            "n_returning",
            "cum_users",
        )
        .orderBy("day")
    )


_NEW_RETURNING_SQL = """
WITH du AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
fs AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id),
daily AS (
  SELECT day,
         count(*) AS n_active,
         sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS n_new
  FROM du JOIN fs USING (user_id)
  GROUP BY day
)
SELECT CAST(CAST(day AS DATE) AS VARCHAR) AS day,
       n_active,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(n_active - n_new AS BIGINT) AS n_returning,
       CAST(sum(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily
ORDER BY day
"""


# ---------------------------------------------------------------------------
# feature_winsorize_events — robust feature scaling for ML prep:
# per-type values winsorized at the exact nearest-rank p01/p99 (clamped, clamp
# counts reported) and z-normalization moments computed on the EXACT
# CENT GRID — sums and sums-of-squares are integer arithmetic (cents
# fit a BIGINT at any realistic scale), so the derived mean/std are
# identical doubles on both engines with zero reduction-order risk.
# Scale: one events scan aggregated to the (event_type, cents)
# frequency grid; the p01/p99 cuts are per-type windows over that grid
# (operators/relational.nearest_rank_cuts — one exchange, |distinct
# cents| rows per type, never N); the clamped moments are one
# integer-sum aggregate over the same grid. No join.
# ---------------------------------------------------------------------------


def feature_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # Nearest-rank percentiles (k = ceil(p*n), pure integer arithmetic)
    # over the distinct cent grid: interpolated percentiles are NOT
    # cross-engine-safe — under heavy value duplication (caught at the
    # synthetic sf1) Spark's percentile and DuckDB's quantile_cont pick
    # different interpolation neighbors. Order statistics on actual data
    # values are the standard winsorize bounds anyway, and the
    # cumulative-frequency walk runs over |distinct cents| rows, not N.
    # r15 rework (the grid pattern shared with hist_equidepth /
    # perplexity buckets): a row's clamp depends only on (event_type,
    # c), so the winsorize bounds AND the clamped moments all come from
    # the (event_type, c) frequency grid — one events scan, cuts as
    # per-type window aggregates, no event-scale broadcast-join-back
    # (which re-derived the scan per branch).
    from etl_ml_pipeline_spark.operators.relational import nearest_rank_cuts

    grid = (
        ev.select("event_type", cents.alias("c"))
        .groupBy("event_type", "c")
        .agg(F.count("*").alias("__f"))
    )
    tagged = nearest_rank_cuts(
        grid, ["event_type"], "c", {"lo_c": (1, 100), "hi_c": (99, 100)}
    )
    cw = F.greatest(F.least(F.col("c"), F.col("hi_c")), F.col("lo_c"))
    agg = tagged.select(
        "event_type", "c", "__f", "lo_c", "hi_c", cw.alias("cw")
    ).groupBy("event_type").agg(
        F.sum("__f").alias("n"),
        F.sum(
            (F.col("c") < F.col("lo_c")).cast("long") * F.col("__f")
        ).alias("n_clamped_low"),
        F.sum(
            (F.col("c") > F.col("hi_c")).cast("long") * F.col("__f")
        ).alias("n_clamped_high"),
        F.min("lo_c").alias("lo_c"),
        F.min("hi_c").alias("hi_c"),
        F.sum(F.col("cw") * F.col("__f")).alias("s1"),
        F.sum(F.col("cw") * F.col("cw") * F.col("__f")).alias("s2"),
    )
    var_c = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / F.col("n")
    return agg.select(
        "event_type",
        "n",
        "n_clamped_low",
        "n_clamped_high",
        (F.col("lo_c") / 100.0).alias("lo"),
        (F.col("hi_c") / 100.0).alias("hi"),
        (F.floor(F.col("s1") / F.col("n") / 100.0 * 10000) / 10000).alias("mean_w"),
        (F.floor(F.sqrt(var_c) / 100.0 * 10000) / 10000).alias("std_w"),
    ).orderBy("event_type")


_WINSORIZE_SQL = """
WITH freqs AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c,
         count(*) AS f
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, c,
         sum(f) OVER (PARTITION BY event_type ORDER BY c
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(f) OVER (PARTITION BY event_type) AS total
  FROM freqs
),
bounds AS (
  SELECT event_type,
         min(CASE WHEN cum >= (total + 99) // 100 THEN c END) AS lo_c,
         min(CASE WHEN cum >= (99 * total + 99) // 100 THEN c END) AS hi_c
  FROM ranked GROUP BY event_type
),
w AS (
  SELECT e.event_type, b.lo_c, b.hi_c,
         CAST(round(e.value * 100, 0) AS BIGINT) AS c,
         greatest(least(CAST(round(e.value * 100, 0) AS BIGINT), b.hi_c), b.lo_c) AS cw
  FROM events e JOIN bounds b USING (event_type)
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c < lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
         CAST(sum(CASE WHEN c > hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
         min(lo_c) AS lo_c, min(hi_c) AS hi_c,
         CAST(sum(cw) AS BIGINT) AS s1,
         CAST(sum(cw * cw) AS BIGINT) AS s2
  FROM w GROUP BY event_type
)
SELECT event_type, n, n_clamped_low, n_clamped_high,
       lo_c / 100.0 AS lo,
       hi_c / 100.0 AS hi,
       floor(s1 / n / 100.0 * 10000) / 10000 AS mean_w,
       floor(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n)
             / 100.0 * 10000) / 10000 AS std_w
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# privacy_k_anonymity — k-anonymity audit over quasi-identifiers, the
# privacy gate a training-data pipeline runs before releasing a table.
# QI = (nation, market segment, $1000-wide balance bucket); a row is
# k-anonymous iff its QI equivalence class holds >= k rows. We report,
# per nation: class count, smallest class, rows violating k=5, and the
# violation count after ONE generalization step (dropping the balance
# bucket — the next rung of the generalization lattice).
#
# Scale: two bounded-cardinality groupBys (|QI classes| and
# |nation x segment|), then a per-nation rollup — every shuffle key is
# low-cardinality and map-side combined; no row-level data leaves the
# scan stage. The balance bucket is pure integer math (cents div
# 100000) so both engines build identical classes.
# ---------------------------------------------------------------------------


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 5
    cust = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        # explicit floor on BOTH engines: balances go negative, and
        # truncate-toward-zero (Spark long cast) vs floor (DuckDB //)
        # would split the bucket at $0
        F.floor(F.round(F.col("c_acctbal") * 100, 0).cast("long") / F.lit(100000.0))
        .cast("long")
        .alias("bal_bucket"),
    )
    fine = cust.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count("*").alias("g")
    )
    per_nation = fine.groupBy("c_nationkey").agg(
        F.sum("g").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.min("g").alias("min_class"),
        F.sum(F.when(F.col("g") < k, F.col("g")).otherwise(F.lit(0))).alias(
            "rows_violating_k5"
        ),
    )
    coarse = (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("g"))
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.when(F.col("g") < k, F.col("g")).otherwise(F.lit(0))).alias(
                "rows_violating_k5_generalized"
            )
        )
    )
    return (
        per_nation.join(coarse, "c_nationkey")
        .select(
            "c_nationkey",
            "n_rows",
            "n_classes",
            "min_class",
            "rows_violating_k5",
            "rows_violating_k5_generalized",
        )
        .orderBy("c_nationkey")
    )


_K_ANON_SQL = """
WITH cust AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT) / 100000.0)
              AS BIGINT) AS bal_bucket
  FROM customer
),
fine AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS g
  FROM cust GROUP BY 1, 2, 3
),
coarse AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS g
  FROM cust GROUP BY 1, 2
)
SELECT f.c_nationkey,
       CAST(sum(f.g) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(f.g) AS BIGINT) AS min_class,
       CAST(sum(CASE WHEN f.g < 5 THEN f.g ELSE 0 END) AS BIGINT)
         AS rows_violating_k5,
       (SELECT CAST(sum(CASE WHEN c.g < 5 THEN c.g ELSE 0 END) AS BIGINT)
        FROM coarse c WHERE c.c_nationkey = f.c_nationkey)
         AS rows_violating_k5_generalized
FROM fine f
GROUP BY f.c_nationkey
ORDER BY f.c_nationkey
"""


# ---------------------------------------------------------------------------
# drift_psi_events — Population Stability Index between the first and
# second half of the events stream, per event type: THE production
# drift monitor for feature pipelines (PSI > 0.2 = retrain signal).
#
# Everything that feeds the ln() is exact integer arithmetic: values
# bucket into 10 equal-width integer-cent bins sized off the reference
# window's min/max (floor division, clamped), counts are Laplace-
# smoothed (+1), and each term (q_i - p_i) * ln(q_i / p_i) floor-
# truncates to integer 1e-8 units BEFORE the sum — so the cross-engine
# total is an order-free integer sum and the only float op is one ln()
# per bin on identical rationals.
#
# Scale: two bounded aggregations (|type x bin| and |type|), broadcast
# joins of 1-row-per-type stats — the events scan is the only big input.
# ---------------------------------------------------------------------------

_PSI_BINS = 10


def drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.drift import psi

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    split = ev.agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t1"),
    ).select(
        F.timestamp_seconds(
            (F.unix_timestamp("t0") + F.unix_timestamp("t1")) / 2
        ).alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(split))
    ref = tagged.filter(F.col("ts") < F.col("mid")).select("event_type", "c")
    cur = tagged.filter(F.col("ts") >= F.col("mid")).select("event_type", "c")
    return psi(ref, cur, ["event_type"], "c", bins=_PSI_BINS).orderBy(
        "event_type"
    )


_PSI_SQL = f"""
WITH ev AS (
  SELECT event_type, ts, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
),
split AS (
  SELECT to_timestamp((epoch(min(ts)) + epoch(max(ts))) / 2) AS mid FROM ev
),
tagged AS (
  SELECT event_type, c,
         CASE WHEN ts < mid THEN 'ref' ELSE 'cur' END AS win
  FROM ev CROSS JOIN split
),
edges AS (
  SELECT event_type, min(c) AS lo, max(c) AS hi
  FROM tagged WHERE win = 'ref' GROUP BY 1
),
counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS nr,
         sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS nc
  FROM (
    SELECT t.event_type, t.win,
           greatest(0, least({_PSI_BINS - 1},
             (t.c - e.lo) * {_PSI_BINS} // (e.hi - e.lo + 1))) AS bin
    FROM tagged t JOIN edges e USING (event_type)
  )
  GROUP BY 1, 2
),
binned AS (
  SELECT s.event_type, s.bin,
         coalesce(c.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
  FROM (SELECT event_type, unnest(range({_PSI_BINS})) AS bin FROM edges) s
  LEFT JOIN counts c ON s.event_type = c.event_type AND s.bin = c.bin
),
tot AS (
  SELECT event_type, sum(nr) + {_PSI_BINS} AS tr, sum(nc) + {_PSI_BINS} AS tc
  FROM binned GROUP BY 1
)
SELECT b.event_type,
       sum(CAST(floor((CAST(nc + 1 AS DOUBLE) / tc - CAST(nr + 1 AS DOUBLE) / tr)
                 * ln((CAST(nc + 1 AS DOUBLE) / tc) / (CAST(nr + 1 AS DOUBLE) / tr))
                 * 100000000 + 1e-6) AS BIGINT)) / 100000000.0 AS psi
FROM binned b JOIN tot USING (event_type)
GROUP BY b.event_type
ORDER BY b.event_type
"""


# ---------------------------------------------------------------------------
# markov_transitions_events — first-order behavior model: the
# event-type transition matrix over each user's time-ordered stream
# (lead() within user, pair counts, row-normalized probabilities).
# Probabilities floor-truncate via pure integer arithmetic
# (cnt * 1e6 div total) so no cross-engine round-tie is possible.
# Scale: one window shuffle on user_id (sessions stay partitioned),
# then a |types|^2-bounded count aggregation.
# ---------------------------------------------------------------------------


def markov_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count("*").alias("cnt"))
    )
    tot = pairs.groupBy("src").agg(F.sum("cnt").alias("total"))
    return (
        pairs.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            "cnt",
            (F.expr("cnt * 1000000 div total") / 1000000.0).alias("prob"),
        )
        .orderBy("src", "dst")
    )


_MARKOV_SQL = """
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
cnts AS (
  SELECT src, dst, count(*) AS cnt
  FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS total FROM cnts GROUP BY 1)
SELECT src, dst, cnt,
       (cnt * 1000000 // total) / 1000000.0 AS prob
FROM cnts JOIN tot USING (src)
ORDER BY src, dst
"""


# ---------------------------------------------------------------------------
# anomaly_mad_events — robust outlier detection via the median absolute
# deviation, the winsorize/z-score companion that heavy tails cannot
# drag: per event type, med = nearest-rank median of the cent grid,
# MAD = nearest-rank median of |c - med|, outlier iff |c - med| >
# 5 * MAD. Every quantity is an exact integer (both medians are
# operators/relational.nearest_rank_cuts over a frequency grid —
# |distinct values| rows per key, never N), so the flag can never
# split across engines.
# ---------------------------------------------------------------------------

_MAD_K = 5


def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 rework (the grid pattern): both medians and the outlier count
    # depend only on (event_type, c) frequencies, so everything runs
    # off ONE events scan. med = window nearest-rank over the c-grid;
    # the deviation grid is a GRID-scale re-aggregation by
    # (event_type, d = |c - med|) — values below/above the median fold
    # together, no event re-scan; mad = window nearest-rank over the
    # d-grid; the final rollup sums d-grid frequencies. The previous
    # formulation derived the event-scale dev frame three times through
    # two broadcast-join diamonds (4 scans total).
    from etl_ml_pipeline_spark.operators.relational import nearest_rank_cuts

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    grid = ev.groupBy("event_type", "c").agg(F.count("*").alias("__f"))
    with_med = nearest_rank_cuts(grid, ["event_type"], "c", {"med": (1, 2)})
    dgrid = (
        with_med.select(
            "event_type",
            "med",
            F.abs(F.col("c") - F.col("med")).alias("d"),
            "__f",
        )
        .groupBy("event_type", "d")
        .agg(F.sum("__f").alias("__f"), F.max("med").alias("med"))
    )
    with_mad = nearest_rank_cuts(dgrid, ["event_type"], "d", {"mad": (1, 2)})
    return (
        with_mad.groupBy("event_type")
        .agg(
            F.sum("__f").alias("n"),
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                (F.col("d") > _MAD_K * F.col("mad")).cast("long")
                * F.col("__f")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def _nr_median_sql(src: str, val: str, name: str) -> str:
    """Nearest-rank median CTEs over (event_type, {val}) rows of {src}."""
    return f"""
{name}_f AS (
  SELECT event_type, {val} AS v, count(*) AS f FROM {src} GROUP BY 1, 2
),
{name}_w AS (
  SELECT event_type, v,
         sum(f) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(f) OVER (PARTITION BY event_type) AS total
  FROM {name}_f
),
{name} AS (
  SELECT event_type,
         min(CASE WHEN cum >= (total + 1) // 2 THEN v END) AS {name}_v
  FROM {name}_w GROUP BY 1
)"""


_MAD_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
),{_nr_median_sql('ev', 'c', 'med')},
dev AS (
  SELECT e.event_type, m.med_v AS med, abs(e.c - m.med_v) AS d
  FROM ev e JOIN med m USING (event_type)
),{_nr_median_sql('dev', 'd', 'mad')}
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(d.med) AS BIGINT) AS med_cents,
       CAST(max(m.mad_v) AS BIGINT) AS mad_cents,
       CAST(sum(CASE WHEN d.d > {_MAD_K} * m.mad_v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# path_top_sequences — session path mining: the 10 most common opening
# paths (first 3 event types of each 30-minute-gap session), the
# navigation-analysis staple. Sessions come from the sessionize
# operator (lag-gap + running flag sum — one shuffle on user_id);
# per-session ordering is made deterministic by sorting structs of
# (ts, event_id, event_type), so collect_list order can never vary
# across partitions or engines. The final count is a |distinct paths|
# aggregation; top-10 tie-breaks on the path string.
# ---------------------------------------------------------------------------


def path_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.sessionize import sessionize

    ev = t(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", 30.0, order_cols=["ts", "event_id"])
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.slice(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    1,
                    3,
                ),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
),
paths AS (
  SELECT user_id, session_seq,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:3], '>') AS path
  FROM numbered GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 10
"""


# ---------------------------------------------------------------------------
# assoc_pairs_events — association-rule mining over sessions: support
# counts and lift for every event-type pair co-occurring in a
# 30-minute-gap session. Pair generation is JOIN-FREE on the Spark
# side: each session's distinct item set (bounded by |event types|)
# expands to its i<j pairs with one indexed-lambda array comprehension
# — no self-join, no cartesian; the oracle uses the equivalent
# relational self-join formulation. Lift is exact integer arithmetic
# (floor(n_ab * n_sessions * 1e6 / (n_a * n_b))), so no float ratio
# can split across engines.
# ---------------------------------------------------------------------------


def assoc_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.sessionize import sessionize

    ev = t(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", 30.0, order_cols=["ts", "event_id"])
    items = sess.groupBy("user_id", "session_seq").agg(
        F.sort_array(F.collect_set("event_type")).alias("items")
    )
    # eager localCheckpoint, not a persist that outlives the call
    # (ADVICE r07 #4 posture): both the pair explode and the singles
    # aggregate re-read the session-items frame — multi-consumer, so
    # the checkpoint is the right trade (semantic_assignments
    # precedent) — and the blocks release with the RDD instead of
    # pinning executor storage for the rest of the session. The frame
    # is (user, session)-scale, far smaller than the event input.
    items = items.localCheckpoint(eager=True)
    n_sessions = items.count()
    pairs = (
        items.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("items"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("items"),
                                i + 2,
                                F.size(F.col("items")),
                            ),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("n_ab"))
    )
    singles = (
        items.select(F.explode("items").alias("e"))
        .groupBy("e")
        .agg(F.count("*").alias("n_e"))
    )
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("e").alias("a"), F.col("n_e").alias("n_a"))),
            "a",
        )
        .join(
            F.broadcast(singles.select(F.col("e").alias("b"), F.col("n_e").alias("n_b"))),
            "b",
        )
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.expr(f"n_ab * {n_sessions} * 1000000 div (n_a * n_b)")
                / 1000000.0
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "a", "b")
        .limit(15)
    )


_ASSOC_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
),
items AS (
  SELECT DISTINCT user_id, session_seq, event_type FROM numbered
),
n_sess AS (
  SELECT count(*) AS ns FROM (SELECT DISTINCT user_id, session_seq FROM items)
),
pairs AS (
  SELECT x.event_type AS a, y.event_type AS b, count(*) AS n_ab
  FROM items x JOIN items y
    ON x.user_id = y.user_id AND x.session_seq = y.session_seq
   AND x.event_type < y.event_type
  GROUP BY 1, 2
),
singles AS (
  SELECT event_type AS e, count(*) AS n_e FROM items GROUP BY 1
)
SELECT p.a, p.b, p.n_ab, sa.n_e AS n_a, sb.n_e AS n_b,
       (p.n_ab * ns * 1000000 // (sa.n_e * sb.n_e)) / 1000000.0 AS lift
FROM pairs p
JOIN singles sa ON sa.e = p.a
JOIN singles sb ON sb.e = p.b
CROSS JOIN n_sess
ORDER BY n_ab DESC, a, b
LIMIT 15
"""


# ---------------------------------------------------------------------------
# retention_curve_events — the survival/retention curve: for each day
# offset d since a user's FIRST activity, the fraction of all users
# active exactly d days later (the day-N retention table behind every
# growth dashboard). Pure integer day arithmetic; the curve fraction
# floor-truncates at 1e-6 via integer division so no ratio can split
# across engines. Scale: one shuffle for first-day per user, an
# equi-join back on user_id, a distinct on (user, offset) bounded by
# users x horizon, and a 14-row aggregate.
# ---------------------------------------------------------------------------

_RET_HORIZON = 14


def retention_curve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("od"),
    )
    first = ev.groupBy("user_id").agg(F.min("od").alias("od0"))
    n_users = first.count()
    offsets = (
        ev.join(first, "user_id")
        .select("user_id", (F.col("od") - F.col("od0")).alias("offset"))
        .filter(F.col("offset") < _RET_HORIZON)
        .distinct()
    )
    return (
        offsets.groupBy("offset")
        .agg(F.count("*").alias("n_active"))
        .select(
            "offset",
            "n_active",
            (
                F.expr(f"n_active * 1000000 div {n_users}") / 1000000.0
            ).alias("retained_frac"),
        )
        .orderBy("offset")
    )


_RETENTION_SQL = f"""
WITH ev AS (
  SELECT user_id,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od
  FROM events
),
first AS (SELECT user_id, min(od) AS od0 FROM ev GROUP BY 1),
n_u AS (SELECT count(*) AS nu FROM first),
offsets AS (
  SELECT DISTINCT e.user_id, e.od - f.od0 AS "offset"
  FROM ev e JOIN first f USING (user_id)
  WHERE e.od - f.od0 < {_RET_HORIZON}
)
SELECT "offset", CAST(count(*) AS BIGINT) AS n_active,
       (count(*) * 1000000 // nu) / 1000000.0 AS retained_frac
FROM offsets CROSS JOIN n_u
GROUP BY "offset", nu
ORDER BY "offset"
"""


# ---------------------------------------------------------------------------
# ab_test_events — the experimentation battery: users split into two
# deterministic arms (user_id parity — stand-in for the assignment
# hash), per event type both arms' n/mean/variance from EXACT integer
# cent moments (S, Q int64; one map-side-combined aggregation), then
# the Welch t statistic and absolute effect computed with the identical
# expression tree on both engines and floor-truncated at 1e-4 — the
# anomaly_zscore display pattern. Scale: one bounded aggregation over
# |type x arm|, everything else is per-row projection.
# ---------------------------------------------------------------------------


def ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    m = ev.groupBy("event_type", "arm").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    a = m.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n0"), F.col("s").alias("s0"), F.col("q").alias("q0"),
    )
    b = m.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1"),
    )
    j = a.join(b, "event_type")
    mean0 = F.col("s0").cast("double") / F.col("n0")
    mean1 = F.col("s1").cast("double") / F.col("n1")
    # variance numerator n*q - s^2 in DOUBLE, not int64: s grows with
    # SF, so s^2 overflows int64 around s ~ 3e9 (~sf100 cents totals) —
    # an ANSI-mode error. The identical double expression runs on both
    # engines (IEEE ops are deterministic), and the 1e-4 floor-truncated
    # display absorbs the sub-ulp slack (ADVICE r05).
    var0 = (
        F.col("n0").cast("double") * F.col("q0").cast("double")
        - F.col("s0").cast("double") * F.col("s0").cast("double")
    ) / (F.col("n0").cast("double") * (F.col("n0") - 1))
    var1 = (
        F.col("n1").cast("double") * F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (F.col("n1").cast("double") * (F.col("n1") - 1))
    tstat = (mean1 - mean0) / F.sqrt(var1 / F.col("n1") + var0 / F.col("n0"))
    return j.select(
        "event_type",
        "n0",
        "n1",
        (F.floor(mean0 * 100) / 10000).alias("mean0"),
        (F.floor(mean1 * 100) / 10000).alias("mean1"),
        (F.floor((mean1 - mean0) * 100) / 10000).alias("effect"),
        (F.floor(tstat * 10000) / 10000).alias("welch_t"),
    ).orderBy("event_type")


_AB_SQL = """
WITH ev AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
),
m AS (
  SELECT event_type, arm, count(*) AS n,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
  FROM ev GROUP BY 1, 2
),
j AS (
  SELECT a.event_type,
         a.n AS n0, a.s AS s0, a.q AS q0,
         b.n AS n1, b.s AS s1, b.q AS q1
  FROM m a JOIN m b ON a.event_type = b.event_type
  WHERE a.arm = 0 AND b.arm = 1
)
SELECT event_type, n0, n1,
       floor((CAST(s0 AS DOUBLE) / n0) * 100) / 10000 AS mean0,
       floor((CAST(s1 AS DOUBLE) / n1) * 100) / 10000 AS mean1,
       floor((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) * 100) / 10000
         AS effect,
       floor(((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
              / sqrt((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
                     + (CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE)
                          - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                       / (CAST(n0 AS DOUBLE) * (n0 - 1)) / n0))
             * 10000) / 10000 AS welch_t
FROM j
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# seasonality_weekday_events — the weekly seasonality profile: each
# weekday's share of revenue vs a flat week (index 1.0 = no
# seasonality), the decomposition input for staffing/capacity models.
# Pure integer arithmetic: day revenues stay in cents, the index is
# floor(day_cents * 7 * 1e6 / total_cents) — no float ratio anywhere.
# One map-side-combined aggregation to 7 rows.
# ---------------------------------------------------------------------------


def seasonality_weekday_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        # ISO weekday 1-7 (Monday=1) agrees across engines
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int").alias("dow"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    per = ev.groupBy("dow").agg(
        F.count("*").alias("n_events"), F.sum("c").alias("cents")
    )
    # r15 optimization: total as an unpartitioned window sum over the
    # 7-row frame instead of an agg + crossJoin diamond (which
    # re-derived the event-scale aggregate for the totals branch).
    # Same integers — identical results.
    from pyspark.sql import Window as W

    return (
        per.withColumn("total", F.sum("cents").over(W.partitionBy()))
        .select(
            "dow",
            "n_events",
            (F.col("cents") / 100.0).alias("revenue"),
            (
                F.expr("cents * 7 * 1000000 div total") / 1000000.0
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


_SEASONALITY_SQL = """
WITH ev AS (
  SELECT CAST(isodow(ts) AS INT) AS dow,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
),
per AS (
  SELECT dow, count(*) AS n_events, CAST(sum(c) AS BIGINT) AS cents
  FROM ev GROUP BY 1
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM per)
SELECT dow, n_events, cents / 100.0 AS revenue,
       (cents * 7 * 1000000 // total) / 1000000.0 AS seasonal_index
FROM per CROSS JOIN tot
ORDER BY dow
"""


# ---------------------------------------------------------------------------
# privacy_erasure_audit — the right-to-be-forgotten pipeline with its
# audit trail: a deterministic erasure list (user_id % 97 == 0 stands
# in for the request table) is removed from events via a BROADCAST
# left_anti join (erasure lists are tiny next to the fact — a map-side
# filter at any fact size, no fact shuffle), and the audit emits
# per-type before/after/erased counts plus the distinct users actually
# affected. The contract n_before = n_after + n_erased rides along as
# a boolean the oracle pins literally TRUE.
# ---------------------------------------------------------------------------


def privacy_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    requests = (
        ev.select("user_id")
        .filter(F.col("user_id") % 97 == 0)
        .distinct()
    )
    kept = ev.join(F.broadcast(requests), "user_id", "left_anti")
    before = ev.groupBy("event_type").agg(
        F.count("*").alias("n_before"),
        F.countDistinct(
            F.when(F.col("user_id") % 97 == 0, F.col("user_id"))
        ).alias("users_erased"),
        # independent per-type count of request-user events: the
        # balance check below compares it against the anti-join delta
        F.sum(
            F.when(F.col("user_id") % 97 == 0, 1).otherwise(0)
        ).alias("__n_req_events"),
    )
    after = kept.groupBy("event_type").agg(F.count("*").alias("n_after"))
    # LEFT join + coalesce(0): an event_type whose events ALL belong to
    # erased users has no post-deletion rows, but the audit must still
    # emit it with n_after = 0 — full deletion is exactly the case the
    # audit exists to prove.
    return (
        before.join(after, "event_type", "left")
        .withColumn("n_after", F.coalesce(F.col("n_after"), F.lit(0)))
        .select(
            "event_type",
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_erased"),
            "users_erased",
            # the anti-join removed EXACTLY the requested users' events
            # (no over- or under-deletion) — not a tautology: it pits
            # the physical deletion against an independent count
            (F.col("n_before") - F.col("n_after") == F.col("__n_req_events")).alias(
                "balance_ok"
            ),
        )
        .orderBy("event_type")
    )


_ERASURE_SQL = """
WITH ev AS (SELECT event_type, user_id FROM events),
per AS (
  SELECT event_type,
         count(*) AS n_before,
         CAST(count(DISTINCT CASE WHEN user_id % 97 = 0 THEN user_id END)
              AS BIGINT) AS users_erased,
         CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_erased
  FROM ev GROUP BY 1
)
SELECT event_type, n_before,
       n_before - n_erased AS n_after,
       n_erased, users_erased,
       TRUE AS balance_ok
FROM per
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# rfm_segmentation_events — RFM customer segmentation (recency /
# frequency / monetary), the canonical lifecycle-marketing cut, done
# cross-engine-exact: per-user integer measures (days-since-last-event
# vs the corpus max day, event count, cents sum with HALF_UP rounding),
# tertile cuts per measure via nearest-rank percentiles over the
# distinct-value grid (operators/relational.nearest_rank_percentiles —
# interpolated percentiles are engine-defined under duplication), and
# the 27-cell segment grid with user counts + monetary totals.
#
# Scale: one per-user aggregate (map-side combined), three grid-sized
# percentile walks, three 1-row broadcast cut tables, one final
# 27-group aggregate. No global windows over users.
# ---------------------------------------------------------------------------


def rfm_segmentation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import (
        nearest_rank_percentiles,
    )

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("anchor"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").cast("long").alias("f"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("m"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("anchor", "last_day").cast("long").alias("r"),
            "f",
            "m",
        )
        .withColumn("g", F.lit(1))
        # r16 (VERDICT r15 #4): per_user has FOUR consumers (three cut
        # builders + the tagging branch) and the executed plan scanned
        # events 22x (column pruning de-identifies the branches, reuse
        # mostly misses). The lazy pin materializes the |users|-row
        # narrow frame once; every branch reads it — 22 scans -> 1.
        # Measured: sf0.1 1.13 -> 1.07, sf1 1.05 -> 1.03 (interleaved
        # medians; small locally because the events aggregate is cheap
        # here, structural at 100 TB where each extra derivation is a
        # full events pass).
        .localCheckpoint(eager=False)
    )
    cuts = {}
    for meas in ("r", "f", "m"):
        c = nearest_rank_percentiles(
            per_user, ["g"], meas, {f"{meas}1": (1, 3), f"{meas}2": (2, 3)}
        ).drop("g")
        cuts[meas] = F.broadcast(c)
    seg = per_user
    for meas in ("r", "f", "m"):
        seg = seg.crossJoin(cuts[meas])
    tier = lambda meas: (  # noqa: E731
        (F.col(meas) > F.col(f"{meas}1")).cast("int")
        + (F.col(meas) > F.col(f"{meas}2")).cast("int")
    )
    return (
        seg.select(
            tier("r").alias("r_tier"),
            tier("f").alias("f_tier"),
            tier("m").alias("m_tier"),
            "m",
        )
        .groupBy("r_tier", "f_tier", "m_tier")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("m").cast("long").alias("monetary_cents"),
        )
        .orderBy("r_tier", "f_tier", "m_tier")
    )


def _rfm_cut_sql(meas: str) -> str:
    return f"""
{meas}_w AS (
  SELECT {meas} AS v,
         sum(cnt) OVER (ORDER BY {meas} ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER () AS total
  FROM (SELECT {meas}, count(*) AS cnt FROM per_user GROUP BY {meas})
),
{meas}_b AS (
  SELECT min(CASE WHEN cum >= (1 * total + 2) // 3 THEN v END) AS {meas}1,
         min(CASE WHEN cum >= (2 * total + 2) // 3 THEN v END) AS {meas}2
  FROM {meas}_w
)"""


_RFM_SQL = f"""
WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS a FROM events),
per_user AS (
  SELECT user_id,
         CAST(date_diff('day', max(CAST(ts AS DATE)), (SELECT a FROM anchor))
              AS BIGINT) AS r,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS m
  FROM events GROUP BY user_id
),{_rfm_cut_sql('r')},{_rfm_cut_sql('f')},{_rfm_cut_sql('m')}
SELECT CASE WHEN u.r > b1.r1 THEN 1 ELSE 0 END
         + CASE WHEN u.r > b1.r2 THEN 1 ELSE 0 END AS r_tier,
       CASE WHEN u.f > b2.f1 THEN 1 ELSE 0 END
         + CASE WHEN u.f > b2.f2 THEN 1 ELSE 0 END AS f_tier,
       CASE WHEN u.m > b3.m1 THEN 1 ELSE 0 END
         + CASE WHEN u.m > b3.m2 THEN 1 ELSE 0 END AS m_tier,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(u.m) AS BIGINT) AS monetary_cents
FROM per_user u CROSS JOIN r_b b1 CROSS JOIN f_b b2 CROSS JOIN m_b b3
GROUP BY 1, 2, 3
ORDER BY r_tier, f_tier, m_tier
"""


# ---------------------------------------------------------------------------
# privacy_dp_group_counts — differentially-private aggregate release:
# per-(lang, source) document counts with Laplace(1/epsilon) noise,
# epsilon = 1. The noise draw is DERANDOMIZED for engine parity: the
# uniform comes from the group key's 60-bit hash (u = (h mod 1e6 +
# 0.5)/1e6, bounded away from the ln() poles), pushed through the
# Laplace inverse CDF -sgn(u-.5)*b*ln(1-2|u-.5|). A production release
# swaps the hash-uniform for a real RNG — one expression, same plan.
# The true count is emitted alongside for calibration AUDIT only
# (a real release drops it, and must also enumerate absent groups —
# releasing only non-empty groups leaks their existence; documented
# limitation, the synthetic key domain here is fully present).
# Scale: one groupBy; noise is a map-side expression on |groups| rows.
# ---------------------------------------------------------------------------


def privacy_dp_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.text import token_hash60

    docs = t(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count("*").alias("n_true"))
    h = token_hash60(F.concat_ws("|", F.col("lang"), F.col("source")))
    u = (h % 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    c = u - F.lit(0.5)
    noise = -F.signum(c) * F.log(F.lit(1.0) - 2 * F.abs(c))
    # +1e-6 pre-floor nudge (the shared JVM-log/libm-ln fence posture,
    # as in unigram_surprisal_scores / DSIR weights): a last-ulp
    # divergence between Spark's log and DuckDB's ln at a 1e-4 grid
    # boundary must not flip floor() (ADVICE r12 #2).
    return g.select(
        "lang",
        "source",
        "n_true",
        (F.floor((F.col("n_true") + noise) * 10000 + 1e-6) / 10000).alias(
            "dp_count"
        ),
        F.lit(1.0).alias("epsilon"),
    ).orderBy("lang", "source")


_DP_COUNTS_SQL = """
WITH g AS (
  SELECT lang, source, count(*) AS n_true FROM documents GROUP BY 1, 2
),
n AS (
  SELECT lang, source, n_true,
         (('0x' || substr(md5(lang || '|' || source), 1, 15))::BIGINT
           % 1000000 + 0.5) / 1000000.0 AS u
  FROM g
)
SELECT lang, source, n_true,
       floor((n_true + (-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))))
             * 10000 + 0.000001) / 10000 AS dp_count,
       1.0 AS epsilon
FROM n
ORDER BY lang, source
"""


QUERIES = {
    "privacy_dp_group_counts": privacy_dp_group_counts,
    "feature_winsorize_events": feature_winsorize_events,
    "rfm_segmentation_events": rfm_segmentation_events,
    "privacy_k_anonymity": privacy_k_anonymity,
    "privacy_erasure_audit": privacy_erasure_audit,
    "drift_psi_events": drift_psi_events,
    "markov_transitions_events": markov_transitions_events,
    "anomaly_mad_events": anomaly_mad_events,
    "path_top_sequences": path_top_sequences,
    "assoc_pairs_events": assoc_pairs_events,
    "retention_curve_events": retention_curve_events,
    "ab_test_events": ab_test_events,
    "seasonality_weekday_events": seasonality_weekday_events,
    "dq_expectations_orders": dq_expectations_orders,
    "layout_partition_prune_stats": layout_partition_prune_stats,
    "window_new_vs_returning": window_new_vs_returning,
    "window_rolling_autocorr_events": window_rolling_autocorr_events,
    "anomaly_zscore_events": anomaly_zscore_events,
    "funnel_events": funnel_events,
    "cohort_retention_events": cohort_retention_events,
}

ORACLES = {
    "privacy_dp_group_counts": _DP_COUNTS_SQL,
    "feature_winsorize_events": _WINSORIZE_SQL,
    "privacy_k_anonymity": _K_ANON_SQL,
    "privacy_erasure_audit": _ERASURE_SQL,
    "rfm_segmentation_events": _RFM_SQL,
    "drift_psi_events": _PSI_SQL,
    "markov_transitions_events": _MARKOV_SQL,
    "anomaly_mad_events": _MAD_SQL,
    "path_top_sequences": _PATHS_SQL,
    "assoc_pairs_events": _ASSOC_SQL,
    "retention_curve_events": _RETENTION_SQL,
    "ab_test_events": _AB_SQL,
    "seasonality_weekday_events": _SEASONALITY_SQL,
    "dq_expectations_orders": _DQ_SQL,
    "layout_partition_prune_stats": _PRUNE_STATS_SQL,
    "window_new_vs_returning": _NEW_RETURNING_SQL,
    "window_rolling_autocorr_events": _AUTOCORR_SQL,
    "anomaly_zscore_events": _ANOMALY_SQL,
    "funnel_events": _FUNNEL_SQL,
    "cohort_retention_events": _COHORT_SQL,
}
