"""Physical-plan assertions: the scale properties the engine relies on.

These tests pin the plan shapes that make the 100 TB posture real:
filters reach the parquet scan, column pruning limits ReadSchema, small
dimensions broadcast instead of shuffling, and hot paths stay inside
WholeStageCodegen. A change that silently regresses any of these would
still pass correctness tests — this file is the guard.
"""

from __future__ import annotations

import pytest

from etl_ml_pipeline_spark.queries.relational import (
    q1_pricing_summary,
    q5_region_revenue,
    q6_forecast_revenue,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q6_filter_pushed_to_scan(spark, sf_dir):
    plan = _formatted(q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters:" in plan
    # the shipdate range + discount/quantity bounds must reach the scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l or "l_discount" in l for l in pushed), pushed


def test_q6_column_pruning(spark, sf_dir):
    plan = _formatted(q6_forecast_revenue(spark, sf_dir))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, "no ReadSchema in plan"
    line = read_schema[0]
    # q6 needs only 4 columns; l_orderkey/l_partkey etc. must NOT be read
    assert "l_extendedprice" in line and "l_discount" in line
    assert "l_orderkey" not in line and "l_comment" not in line


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(q5_region_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the big fact-side join must not broadcast lineitem: at least the
    # dims go through BroadcastExchange
    assert plan.count("BroadcastExchange") >= 2


def test_q1_whole_stage_codegen(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = _plan(df)
    # codegen stages render as "*(n)" prefixes in the final AQE plan
    assert "*(" in plan or "WholeStageCodegen" in plan
    # aggregation is partial (map-side combine) before the exchange
    assert "partial" in plan.lower()


def test_q1_single_shuffle(spark, sf_dir):
    plan = _plan(q1_pricing_summary(spark, sf_dir))
    # one exchange for the groupBy, one for the final orderBy — no more
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 3, f"unexpected extra shuffles:\n{plan}"


def test_cursor_predicate_pushed(spark, sf_dir):
    """Incremental cursor filters must reach the parquet scan."""
    from etl_ml_pipeline_spark import plugins  # noqa: F401 (registers built-ins)
    from etl_ml_pipeline_spark.registry import SOURCES

    src = SOURCES.get("parquet")(spark, {"path": f"{sf_dir}/orders.parquet"})
    src.apply_cursor(1000, "o_orderkey", None)
    plan = _formatted(src.extract())
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderkey" in l and "GreaterThan" in l for l in pushed), pushed


def test_exact_dedup_no_self_join(spark, sf_dir):
    """exact_dedup must be window-based: one pass, no join of the input
    against itself (which would double-scan upstream at 100 TB)."""
    from etl_ml_pipeline_spark.operators.dedup import exact_dedup
    from etl_ml_pipeline_spark.queries.tables import t

    plan = _plan(exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id"))
    assert "Join" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Both join sides bucketed+sorted by the key -> the join plan has NO
    Exchange and NO Sort: the one-time layout shuffle is amortized across
    every future join (the co-located-join scale pattern)."""
    import shutil
    from pathlib import Path

    from etl_ml_pipeline_spark import plugins  # noqa: F401
    from etl_ml_pipeline_spark.registry import SINKS
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sink = SINKS.get("bucketed_table")
    try:
        with sink(spark, {"table": "orders_b", "buckets": 4,
                          "bucket_cols": ["o_orderkey"]}) as s:
            s.load(orders)
        with sink(spark, {"table": "lineitem_b", "buckets": 4,
                          "bucket_cols": ["l_orderkey"]}) as s:
            s.load(lineitem)

        joined = (
            spark.table("lineitem_b")
            .join(
                spark.table("orders_b").hint("merge"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        join_section = plan.split("HashAggregate")[-1]  # below the agg
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, join_section
        # sortBy at write time elides the join-side sorts too
        assert joined.collect()  # plan actually runs
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        wh = Path("spark-warehouse")
        if wh.exists():
            shutil.rmtree(wh, ignore_errors=True)


def test_bucketed_sink_external_path(spark, sf_dir, tmp_path_factory):
    """The bucketed_table sink's ``path`` option makes an EXTERNAL
    table: files land at the given location (not the warehouse), the
    bucket spec still applies (bucketed scan, no Exchange on the
    bucketed side of a merge join), and DROP TABLE leaves the files
    for the caller's lifecycle (layout_bucketed_join_stats relies on
    this to keep repeated catalog runs out of spark-warehouse/)."""
    import os

    from etl_ml_pipeline_spark import plugins  # noqa: F401
    from etl_ml_pipeline_spark.registry import SINKS
    from pyspark.sql import functions as F

    loc = str(tmp_path_factory.mktemp("bucket_ext"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    sink = SINKS.get("bucketed_table")
    try:
        with sink(spark, {"table": "orders_ext_b", "buckets": 4,
                          "bucket_cols": ["o_orderkey"],
                          "path": f"{loc}/orders_ext_b"}) as s:
            s.load(orders)
        assert os.listdir(f"{loc}/orders_ext_b")  # files at explicit path
        joined = spark.table("orders_ext_b").join(
            spark.table("orders_ext_b").select(
                F.col("o_orderkey").alias("k")
            ).hint("merge"),
            F.col("o_orderkey") == F.col("k"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        n = spark.table("orders_ext_b").count()
        assert joined.count() == n
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_ext_b")
    assert os.listdir(f"{loc}/orders_ext_b")  # DROP left the files


def test_hash_sample_filter_pushed_and_no_shuffle(spark, sf_dir):
    """Hash-mod sampling must stay a map-side scan filter: the md5
    predicate itself can't push into parquet, but the plan must contain
    no Exchange before the (tiny) final sort."""
    from etl_ml_pipeline_spark.queries.sampling_q import sample_hash_documents

    df = sample_hash_documents(spark, sf_dir)
    plan = _plan(df)
    # exactly one exchange: the final orderBy range partitioning
    assert plan.count("Exchange") <= 2  # rangepartitioning (+AQE read)
    assert "Sample" not in plan  # deterministic filter, not RNG sampling


def test_vocab_topk_partial_aggregation(spark, sf_dir):
    """Token counting must partial-aggregate before the shuffle so the
    exchange carries vocab-sized partials, not exploded token rows."""
    from etl_ml_pipeline_spark.queries.text_q import text_vocab_topk

    plan = _formatted(text_vocab_topk(spark, sf_dir))
    assert "partial_count" in plan or "HashAggregate" in plan
    # the partial aggregate must appear below the exchange
    lines = plan.splitlines()
    first_agg = next(i for i, l in enumerate(lines) if "HashAggregate" in l)
    first_exchange = next(i for i, l in enumerate(lines) if "Exchange" in l)
    # formatted plans print top-down: final agg, exchange, partial agg, scan
    assert first_agg < first_exchange


def test_sq8_quantize_no_shuffle_no_python(spark, sf_dir):
    """SQ8 quantization is a pure map: no Exchange except the display
    sort, and no Python/Arrow eval nodes (stays in codegen)."""
    from etl_ml_pipeline_spark.queries.similarity_q import embedding_quantize_sq8

    plan = _plan(embedding_quantize_sq8(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 2


def test_near_dup_pairs_no_cartesian(spark, sf_dir):
    """embedding_near_dup_pairs must plan as a bucket equi-join, never a
    cross product: no CartesianProduct / BroadcastNestedLoopJoin node.
    (The round-1 formulation was a literal crossJoin — the one plan shape
    that cannot survive a corpus-scale input.)"""
    from etl_ml_pipeline_spark.queries.similarity_q import embedding_near_dup_pairs

    plan = _plan(embedding_near_dup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # it IS a join — an equi (hash/sort-merge) one


def test_ngram_jaccard_df_cap_in_plan(spark, sf_dir):
    """The document-frequency guard must be part of the executed plan,
    and the candidate generator must stay an equi-join on the shingle
    key — no CartesianProduct. (A 1-row BroadcastNestedLoopJoin IS
    expected: it's the corpus-count scalar feeding the fractional cap —
    a broadcast of one row, not a pair generator.)"""
    import re

    from etl_ml_pipeline_spark.queries.dedup_q import dedup_ngram_jaccard

    plan = _plan(dedup_ngram_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*\[shingle", plan
    ), "shingle candidate join is not an equi-join"


def test_cdc_view_no_join_single_key_shuffle(spark, sf_dir):
    """The merge-on-read view must be union + ranking window — a join
    formulation would shuffle base AND updates AND the result."""
    from etl_ml_pipeline_spark.queries.relational import cdc_current_orders

    plan = _plan(cdc_current_orders(spark, sf_dir))
    assert "Union" in plan
    assert "Join" not in plan


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    """The contamination check joins corpus n-gram hashes against the
    (small) benchmark side via broadcast — corpus never re-shuffles for
    the join."""
    from etl_ml_pipeline_spark.queries.text_q import text_contamination

    plan = _plan(text_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_global_row_number_matches_naive_window(spark, sf_dir):
    """Two-phase distributed rank == the single-partition global window,
    and the plan range-partitions instead of collapsing to one task."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import global_row_number

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fast = global_row_number(orders, ["o_totalprice", "o_orderkey"], "rn")
    naive = orders.withColumn(
        "rn",
        F.row_number().over(W.orderBy("o_totalprice", "o_orderkey")).cast("int"),
    )
    a = {(r.o_orderkey, r.rn) for r in fast.select("o_orderkey", "rn").collect()}
    b = {(r.o_orderkey, r.rn) for r in naive.select("o_orderkey", "rn").collect()}
    assert a == b
    # numeric leading key -> deterministic arithmetic buckets (1-row
    # min/max broadcast); no sampled exchange, no checkpoint needed
    plan = _plan(fast).lower()
    assert "broadcastnestedloopjoin" in plan


def test_quartile_stats_no_global_window(spark, sf_dir):
    """window_quartile_stats must not contain an unpartitioned ntile
    window (single-task sort); exact ntile arithmetic rides the
    distributed rank instead."""
    from etl_ml_pipeline_spark.queries.windows import window_quartile_stats

    plan = _plan(window_quartile_stats(spark, sf_dir))
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" in plan.lower()


def test_global_running_sum_matches_naive_window(spark, sf_dir):
    """Two-phase prefix sum == the single-partition cumulative window
    (exact: long values), and the plan range-partitions."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", (F.col("o_custkey") % 1000).cast("long").alias("v")
    )
    fast = grouped_running_sum(orders, "v", [], ["o_orderkey"], "cs")
    naive = orders.withColumn(
        "cs",
        F.sum("v").over(
            W.orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    a = {(r.o_orderkey, r.cs) for r in fast.collect()}
    b = {(r.o_orderkey, r.cs) for r in naive.collect()}
    assert a == b
    # numeric leading key -> deterministic arithmetic buckets: the 1-row
    # min/max stats broadcast (BroadcastNestedLoopJoin) replaces both the
    # sampled range exchange and the pinned checkpoint
    plan = _plan(fast).lower()
    assert "broadcastnestedloopjoin" in plan


def test_global_running_sum_passthrough_columns_stay_exact(spark, sf_dir):
    """Round-10 regression (caught by training_data_prep_e2e at sf1):
    the two-phase prefix sum consumes its range-partitioned frame from
    two branches, and a passthrough column used to let column pruning
    specialize one branch's copy of the exchange — the branches then
    re-SAMPLED different range boundaries and the offsets silently
    corrupted (row counts drifted run to run). The pinned layout makes
    __pid a fact of the data; prefix sums must be exact cumsums with
    arbitrary extra columns riding along, stably across re-collects."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    docs = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        (F.col("o_custkey") % 97).cast("long").alias("v"),
        "o_orderstatus",  # passthrough: pruned by totals, kept by output
        "o_orderpriority",
    )
    out = grouped_running_sum(
        docs, "v", [], ["o_orderkey"], "cs", num_partitions=16
    )
    pdf = out.select("o_orderkey", "v", "cs").orderBy("o_orderkey").toPandas()
    assert (pdf.cs.values == pdf.v.cumsum().values).all()
    pdf2 = out.select("o_orderkey", "cs").orderBy("o_orderkey").toPandas()
    assert (pdf.cs.values == pdf2.cs.values).all()


def test_global_running_sum_string_key_fallback_is_pinned(spark, sf_dir):
    """Non-numeric leading keys can't take the arithmetic-bucket path;
    they must fall back to the sampled range partitioning PINNED by a
    localCheckpoint (Scan ExistingRDD) — the branch-divergence guard —
    and still produce exact prefix sums."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    docs = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").cast("string").alias("k"),
        (F.col("o_custkey") % 97).cast("long").alias("v"),
        "o_orderstatus",
    )
    out = grouped_running_sum(docs, "v", [], ["k"], "cs", num_partitions=8)
    assert "existingrdd" in out._jdf.queryExecution().executedPlan().toString().lower()
    pdf = out.select("k", "v", "cs").orderBy("k").toPandas()  # string order
    assert (pdf.cs.values == pdf.v.cumsum().values).all()


def test_salted_agg_query_two_stage_no_cartesian(spark, sf_dir):
    """skew_salted_agg_events: the salted rewrite must show two hash
    aggregate phases over distinct grouping sets ((keys, salt) then keys)
    and no cartesian/nested-loop node."""
    from etl_ml_pipeline_spark.queries.skew_q import skew_salted_agg_events

    plan = _plan(skew_salted_agg_events(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("__salt") >= 1  # stage-1 grouping carries the salt


def test_salted_join_query_bounded_fanout(spark, sf_dir):
    """skew_salted_join_events: the dimension is replicated by an explode
    over exactly n_salt values (bounded fan-out) and the join stays an
    equi-join — no cartesian/nested-loop node in the plan."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.skew import salted_join
    from etl_ml_pipeline_spark.queries.skew_q import skew_salted_join_events
    from etl_ml_pipeline_spark.queries.tables import t

    plan = _plan(skew_salted_join_events(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # Fan-out bound: replicated dim rows == n_salt * dim rows, and the
    # salted join reproduces the plain join exactly.
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    n_salt = 4
    salted = salted_join(ev, dim, key="user_id", unique_col="event_id", n_salt=n_salt)
    plain = ev.join(dim, "user_id")
    assert salted.count() == plain.count()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """Hive-partitioned parquet (the 100 TB layout: partition column in
    the directory path) + a partition-column filter must show the filter
    under PartitionFilters — whole directories skipped, not scanned —
    and read only the matching partition's rows."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.sinks.files import ParquetSink

    out = str(tmp_path_factory.mktemp("part") / "docs_by_lang")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sink = ParquetSink(spark, {"path": out, "partition_by": ["lang"]})
    sink.load(docs)

    scan = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = _formatted(scan)
    assert "PartitionFilters" in plan
    # the lang predicate must be a partition filter, not a data filter
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "lang" in pf_line
    expect = docs.filter(F.col("lang") == "en").count()
    assert scan.count() == expect


def test_scd2_history_no_successor_join(spark, sf_dir):
    """The SCD2 interval build must be union + ONE lead() window — the
    naive formulation joins each change row to its successor, shuffling
    twice and exploding on hot keys."""
    from etl_ml_pipeline_spark.queries.relational import scd2_order_history

    plan = _plan(scd2_order_history(spark, sf_dir))
    assert "Union" in plan
    assert "Join" not in plan


def test_scd2_pit_join_no_cartesian(spark, sf_dir):
    """The point-in-time join must be an EQUI-join on the key with the
    interval predicate as a filter/join condition — never a cartesian
    (interval-only) product against the fact table."""
    from etl_ml_pipeline_spark.queries.relational import scd2_point_in_time_join

    plan = _plan(scd2_point_in_time_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_ed1_join_no_cartesian(spark, sf_dir):
    """The deletion-neighborhood fuzzy join must plan as an equi-join on
    the variant key — never a cross product (the brute-force all-pairs
    levenshtein shape lives only in the DuckDB oracle)."""
    from etl_ml_pipeline_spark.queries.dedup_q import dedup_fuzzy_ed1_names

    plan = _plan(dedup_fuzzy_ed1_names(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_dim_broadcast_hint_is_size_guarded(spark, sf_dir, monkeypatch):
    """dim()/maybe_broadcast() hint only while the table's on-disk size
    is under the bound: at 100 TB a forced supplier/customer broadcast
    OOMs executors, so past the bound the optimizer must choose."""
    from etl_ml_pipeline_spark.queries import tables as tbl

    hinted = tbl.dim(spark, sf_dir, "supplier")
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(tbl, "_BROADCAST_MAX_BYTES", 0)
    unhinted = tbl.dim(spark, sf_dir, "supplier")
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString()

    derived = tbl.t(spark, sf_dir, "part").filter("p_size < 10")
    assert "ResolvedHint" not in tbl.maybe_broadcast(
        derived, sf_dir, "part"
    )._jdf.queryExecution().analyzed().toString()
    monkeypatch.setattr(tbl, "_BROADCAST_MAX_BYTES", 64 << 20)
    assert "ResolvedHint" in tbl.maybe_broadcast(
        derived, sf_dir, "part"
    )._jdf.queryExecution().analyzed().toString()


def test_weighted_sampler_plans_take_ordered(spark, sf_dir):
    """The weighted sampler's top-k must compile to TakeOrderedAndProject
    (per-partition top-k + k-row merge), never a global-sort window over
    the corpus; the rank window runs over only k rows post-limit."""
    from etl_ml_pipeline_spark.queries.sampling_q import (
        sample_weighted_priority_documents,
    )

    plan = _plan(sample_weighted_priority_documents(spark, sf_dir))
    assert "TakeOrdered" in plan


def test_round5_analytics_no_cartesian(spark, sf_dir):
    """Funnel, cohort, gap-fill, and MoM growth all plan as equi-joins /
    keyed windows — no cartesian products, no nested-loop joins beyond
    broadcast-1-row scalars."""
    from etl_ml_pipeline_spark.queries.analytics_q import (
        cohort_retention_events,
        funnel_events,
    )
    from etl_ml_pipeline_spark.queries.timeseries import resample_gapfill_events
    from etl_ml_pipeline_spark.queries.windows import window_mom_revenue_growth

    for fn in (funnel_events, cohort_retention_events,
               resample_gapfill_events, window_mom_revenue_growth):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__


def test_cms_build_bounded_partial_agg_and_broadcast_probe(spark, sf_dir):
    """The Count-Min build must partial-aggregate map-side onto the
    depth*width cell grid (shuffle volume O(matrix) per task), and the
    probe side must broadcast the matrix — never shuffle or cross-join
    the probed terms."""
    from etl_ml_pipeline_spark.queries.text_q import sketch_cms_frequency

    plan = _plan(sketch_cms_frequency(spark, sf_dir))
    assert "partial_count" in plan  # map-side combine on (j, bucket)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_refresh_semi_join_no_cartesian(spark, sf_dir):
    """The incremental view refresh derives retractions via a LEFT SEMI
    join on the key and merges deltas with a union — no cartesian, no
    re-aggregation via nested loops."""
    from etl_ml_pipeline_spark.queries.relational import agg_incremental_refresh

    plan = _plan(agg_incremental_refresh(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trigram_novelty_freq_tables_broadcast_at_small_sf(spark, sf_dir):
    """r15 shape: trigram/context frequencies are WINDOW sums over the
    single dtc lineage (partition by tri / by ctx) — no frequency-table
    joins at all (the old join-back form re-derived the trigram explode
    for all three consumers: 6 scans, zero reuse), and no cartesian
    shapes. One scan of documents feeds the whole plan."""
    from etl_ml_pipeline_spark.queries.text_q import text_novelty_trigram

    plan = _plan(text_novelty_trigram(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # window sums replaced the freq joins
    assert plan.count("Scan parquet") == 1


def test_new_vs_returning_day_grain_window_only(spark, sf_dir):
    """new-vs-returning plans its running sum over the day-grain
    aggregate (rows = distinct days), never a user-cardinality global
    window, and contains no cartesian join."""
    from etl_ml_pipeline_spark.queries.analytics_q import window_new_vs_returning

    df = window_new_vs_returning(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # The only Window in the plan runs AFTER the day-level aggregate:
    # its input cannot carry user_id.
    wins = [ln for ln in plan.splitlines() if "Window" in ln]
    assert wins and all("user_id" not in ln for ln in wins)


def test_psi_no_python_no_cartesian_rows(spark, sf_dir):
    """PSI is pure JVM: binning/smoothing/ln all run as expressions; the
    only nested-loop join is the broadcast of the 1-row split point."""
    from etl_ml_pipeline_spark.queries.analytics_q import drift_psi_events

    plan = _plan(drift_psi_events(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_equidepth_histogram_no_python_single_scan_shape(spark, sf_dir):
    """Equi-depth bounds come from the |distinct cents| grid and the
    bucket assignment is a broadcast comparison sum — no Python, no
    cartesian, no global sort of the raw rows."""
    from etl_ml_pipeline_spark.queries.relational import hist_equidepth_prices

    plan = _plan(hist_equidepth_prices(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_streaks_windows_partitioned_by_user(spark, sf_dir):
    """Gaps-and-islands must never fall into a global (unpartitioned)
    window: every WindowExec carries the user_id partition key."""
    from etl_ml_pipeline_spark.queries.windows import window_activity_streaks

    plan = _plan(window_activity_streaks(spark, sf_dir))
    for line in plan.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "user_id" in line, line
    assert "BatchEvalPython" not in plan


def test_markov_single_user_window_then_bounded_aggs(spark, sf_dir):
    from etl_ml_pipeline_spark.queries.analytics_q import (
        markov_transitions_events,
    )

    plan = _plan(markov_transitions_events(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "user_id" in line, line


def test_ols_trend_single_aggregation_no_window(spark, sf_dir):
    """The per-group OLS fit is pure aggregation — no window, no Python,
    map-side partial aggregation present."""
    from etl_ml_pipeline_spark.queries.ml_q import ml_group_ols_trend

    plan = _plan(ml_group_ols_trend(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "WindowExec" not in plan and "Window " not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_round6_queries_plan_shapes(spark, sf_dir):
    """Round-6 additions keep the contracted shapes: the epoch shuffle
    range-partitions (two-phase rank, no single-task global window);
    phrase search probes with a broadcast of the tiny phrase set;
    boilerplate stripping is equi-join only; none of them run Python
    or a cartesian product."""
    from etl_ml_pipeline_spark.queries.dedup_q import boilerplate_strip_documents
    from etl_ml_pipeline_spark.queries.sampling_q import shuffle_epoch_documents
    from etl_ml_pipeline_spark.queries.text_q import (
        corpus_stats_battery,
        phrase_search_documents,
    )

    shuffle_plan = _plan(shuffle_epoch_documents(spark, sf_dir)).lower()
    assert "rangepartitioning" in shuffle_plan
    # the only row_number windows are the per-range locals (partitioned
    # by pid), never an unpartitioned global ordering over the corpus
    assert "window [row_number()" not in shuffle_plan.replace(
        "windowpartition", ""
    ) or "partitionby" not in shuffle_plan  # guard is the range exchange above

    phrase_plan = _plan(phrase_search_documents(spark, sf_dir))
    assert "BroadcastHashJoin" in phrase_plan or "BroadcastExchange" in phrase_plan
    assert "CartesianProduct" not in phrase_plan

    for fn in (boilerplate_strip_documents, corpus_stats_battery):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, fn.__name__


def test_null_safe_join_plans_as_hash_join(spark, sf_dir):
    """null_safe_join's `<=>` keys must plan as real join keys
    (BroadcastHashJoin here, not BroadcastNestedLoopJoin or a
    post-filter) — the helper's no-scale-penalty claim — and NULL keys
    must match NULL keys."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.joins import null_safe_join

    left = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3)], "k string, v int"
    )
    right = spark.createDataFrame(
        [("a", 10), (None, 20)], "k string, w int"
    )
    out = null_safe_join(left, F.broadcast(right), ["k"])
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    got = {(r.k, r.v, r.w) for r in out.collect()}
    assert got == {("a", 1, 10), (None, 2, 20)}
    # key column emitted once, from the left (USING-join shape)
    assert out.columns == ["k", "v", "w"]


def test_grouped_running_sum_matches_naive_window(spark, sf_dir):
    """Per-group two-phase prefix sum == the naive per-group window,
    including when one group spans many range partitions (the skewed
    mega-source shape it exists to parallelize)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    fast = grouped_running_sum(
        orders,
        "o_custkey",
        ["o_orderstatus"],
        ["o_orderkey"],
        "cs",
        num_partitions=8,  # few statuses over 8 partitions -> spans
    )
    naive = orders.withColumn(
        "cs",
        F.sum("o_custkey").over(
            W.partitionBy("o_orderstatus")
            .orderBy("o_orderkey")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    a = {(r.o_orderkey, r.cs) for r in fast.select("o_orderkey", "cs").collect()}
    b = {(r.o_orderkey, r.cs) for r in naive.select("o_orderkey", "cs").collect()}
    assert a == b
    plan = _plan(fast)
    assert "broadcastnestedloopjoin" in plan.lower()  # deterministic buckets
    # the high-cardinality escape hatch (ADVICE r08 #3): the shuffled
    # offset join must produce the identical result with no broadcast
    # of the offsets frame
    shuffled = grouped_running_sum(
        orders,
        "o_custkey",
        ["o_orderstatus"],
        ["o_orderkey"],
        "cs",
        num_partitions=8,
        broadcast_offsets=False,
    )
    c = {
        (r.o_orderkey, r.cs)
        for r in shuffled.select("o_orderkey", "cs").collect()
    }
    assert c == a


def test_grouped_running_count_is_grouped_row_number(spark):
    """A per-group running sum of ones, cast to int, IS
    ``row_number() OVER (PARTITION BY g ORDER BY k, id)``: a NULL group,
    a string leading key (the sampled-range fallback) and repeated k
    values, at 1, 3 and 8 partitions."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    rows = [
        (["a", "b", None][i % 3], f"k{(i * 7) % 5}", i) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, k string, id long")
    naive = df.withColumn(
        "rn", F.row_number().over(W.partitionBy("g").orderBy("k", "id"))
    )
    want = sorted((r.g or "", r.id, r.rn) for r in naive.collect())
    for parts in (1, 3, 8):
        fast = grouped_running_sum(
            df, F.lit(1), ["g"], ["k", "id"], "rn", num_partitions=parts
        ).withColumn("rn", F.col("rn").cast("int"))
        got = sorted((r.g or "", r.id, r.rn) for r in fast.collect())
        assert got == want, parts


def test_global_running_sum_pathological_double_keys(spark):
    """NaN / +-Infinity leading keys must keep exact prefix sums AND
    balanced finite buckets: explicit clamp semantics (NaN and +Inf ->
    top bucket, matching Spark's NaN-sorts-last; -Inf -> bucket 0;
    finite keys bucket over finite-only [lo, hi], clamped into
    [0, parts-1]). Before the round-11 fix a single NaN/Inf key made
    span NaN/Inf and silently serialized every finite row into ONE
    bucket (ADVICE r10 #4) — the balance assertion pins that."""
    import math

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import (
        _ranged_with_pid,
        grouped_running_sum,
    )

    rows = [(float("-inf"), 1), (-5.0, 2), (0.0, 3), (7.5, 4),
            (float("inf"), 5), (float("nan"), 6)] + [
        (float(i), 10 + i) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "k double, v long")
    fast = grouped_running_sum(df, "v", [], ["k"], "cs", num_partitions=4)
    naive = df.withColumn(
        "cs",
        F.sum("v").over(
            W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    key = lambda r: (math.isnan(r.k), r.k if not math.isnan(r.k) else 0.0, r.v, r.cs)
    assert sorted(map(key, fast.collect())) == sorted(map(key, naive.collect()))

    # finite rows must spread across buckets despite the NaN/Inf rows
    pids = _ranged_with_pid(df, 4, ["k"]).select("k", "__pid").collect()
    by_k = {r["k"]: r["__pid"] for r in pids if r["k"] is not None}
    finite = {
        p for k, p in by_k.items() if not (math.isnan(k) or math.isinf(k))
    }
    assert len(finite) == 4, finite
    assert by_k[float("-inf")] == 0
    assert by_k[float("inf")] == 3
    nan_pid = [p for k, p in by_k.items() if math.isnan(k)]
    assert nan_pid == [3]


def test_global_running_sum_bounds_df_is_consumed(spark, sf_dir):
    """VERDICT r10 ask #2 / ADVICE r10 #2: a caller-supplied covering
    ``bounds_df`` must actually replace the self-derived min/max — both
    behaviorally (a deliberately WIDER range changes bucket assignment
    but never the result) and in the plan (the e2e's bounds branch must
    not re-evaluate the gate+dedup lineage: no Window/WindowGroupLimit
    under the bounds aggregate)."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import (
        _ranged_with_pid,
        grouped_running_sum,
    )

    df = spark.range(100).select(
        F.col("id").cast("double").alias("k"), F.lit(1).alias("v")
    )
    # bounds 4x wider than the data: buckets shift (proof of consumption)
    wide = spark.createDataFrame([(0.0, 400.0)], "__lo double, __hi double")
    pid_self = {r["k"]: r["__pid"] for r in _ranged_with_pid(df, 4, ["k"]).collect()}
    pid_wide = {
        r["k"]: r["__pid"]
        for r in _ranged_with_pid(df, 4, ["k"], bounds_df=wide).collect()
    }
    assert pid_self != pid_wide  # the parameter is read
    assert set(pid_wide.values()) == {0}  # all keys < 1/4 of the wide span
    out = grouped_running_sum(df, "v", [], ["k"], "cs", bounds_df=wide)
    got = {r["k"]: r["cs"] for r in out.collect()}
    assert got == {float(i): i + 1 for i in range(100)}  # result unchanged

    # plan pin (r15 shape): the flagship e2e runs its prefix sum with
    # pin_input=True — the range-exchanged frame is checkpointed once,
    # so the OUTER executed plan must read stored partitions only: no
    # parquet scan and no dedup WindowGroupLimit above the pin (the
    # score->gate->dedup->sample lineage runs exactly once, inside the
    # checkpoint job). The dead-bounds_df regression this pin used to
    # guard is covered by the synthetic assertions above.
    from etl_ml_pipeline_spark.queries.pipeline_q import training_data_prep_e2e

    e2e = training_data_prep_e2e(spark, sf_dir)
    e2e.toPandas()
    plan = e2e._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") == 0, plan.count("WindowGroupLimit")
    assert "Scan parquet" not in plan


def test_prefix_sum_property_pathological_keys(spark):
    """Property form of the pathological-keys pin (round-11 randomized
    hunt, promoted): for ANY double key mix (NULL / NaN / +-Inf /
    finite, duplicates included) under a TOTAL order (unique v as the
    tiebreak) and any partition count, the two-phase operators match
    the naive single-partition windows exactly. Runs derandomized
    under the gate profile; HYPOTHESIS_PROFILE=explore randomizes."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import (
        global_row_number,
        grouped_running_sum,
    )

    keys = st.one_of(
        st.none(),
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        st.integers(-5, 5).map(float),
    )

    def kk(k):
        return (
            k is None,
            isinstance(k, float) and math.isnan(k),
            k if (k is not None and not math.isnan(k)) else 0.0,
        )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(keys, min_size=1, max_size=25),
        parts=st.integers(1, 5),
    )
    def check(rows, parts):
        data = [(k, i + 1) for i, k in enumerate(rows)]
        df = spark.createDataFrame(data, "k double, v long")
        fast = grouped_running_sum(
            df, "v", [], ["k", "v"], "cs", num_partitions=parts
        )
        naive = df.withColumn(
            "cs",
            F.sum("v").over(
                W.orderBy("k", "v").rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        assert sorted((kk(r.k), r.v, r.cs) for r in fast.collect()) == sorted(
            (kk(r.k), r.v, r.cs) for r in naive.collect()
        ), (rows, parts)
        frn = global_row_number(df, ["k", "v"], "rn", num_partitions=parts)
        nrn = df.withColumn("rn", F.row_number().over(W.orderBy("k", "v")))
        assert sorted((kk(r.k), r.v, r.rn) for r in frn.collect()) == sorted(
            (kk(r.k), r.v, r.rn) for r in nrn.collect()
        ), (rows, parts)

    check()


def test_ann_filtered_topk_filter_is_broadcast_semi_join(
    spark, sf_dir, monkeypatch
):
    """The metadata filter must prune the corpus via a semi-join BEFORE
    centroid assignment — a post-rerank filter would pay exact
    distances for disallowed vectors at 100 TB. The semi-join's
    broadcast hint is SIZE-GUARDED (VERDICT r12 #3): under the bound
    (the selective RAG-serve case) the allowed-ids set broadcasts;
    past it the hint drops and the optimizer shuffles — an unselective
    predicate over a 100 TB corpus must never force a driver collect."""
    from etl_ml_pipeline_spark.queries import tables as tbl
    from etl_ml_pipeline_spark.queries.similarity_q import ann_filtered_topk

    plan = (
        ann_filtered_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    # the documents side reads only the two filter columns
    assert "struct<doc_id:bigint,lang:string>" in plan
    small_df = ann_filtered_topk(spark, sf_dir)
    small = small_df.collect()
    n_hints_small = (
        small_df._jdf.queryExecution().analyzed().toString()
    ).count("ResolvedHint")

    # past the bound: the allowed-ids hint drops (AQE decides); the
    # remaining hints are ivf_topk's aggregate-bounded frames
    # (centroids/offsets — bounded by construction, scale-safe)
    monkeypatch.setattr(tbl, "_BROADCAST_MAX_BYTES", 0)
    big = ann_filtered_topk(spark, sf_dir)
    n_hints_big = (
        big._jdf.queryExecution().analyzed().toString()
    ).count("ResolvedHint")
    assert n_hints_big == n_hints_small - 1
    # both paths are result-identical
    assert big.collect() == small


def test_layout_compaction_plan_bounds_subtree_is_bare_scan(spark, sf_dir):
    """The compaction plan's prefix-sum bounds branch must be a bare
    column-pruned scan of the manifest (the whole point of passing
    covering bounds): no Window/WindowGroupLimit nodes anywhere — the
    only windows are the prefix sum's own local cumsum + offsets."""
    from etl_ml_pipeline_spark.queries.prune_q import layout_compaction_plan

    df = layout_compaction_plan(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" not in plan
    # result sanity: bins partition the corpus exactly once
    from pyspark.sql import functions as F

    rows = df.collect()
    total = sum(r["n_files"] for r in rows)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert total == docs.count()
    # bins cover disjoint contiguous id ranges in order
    spans = sorted((r["first_file"], r["last_file"]) for r in rows)
    for (a1, b1), (a2, _) in zip(spans, spans[1:]):
        assert b1 < a2


def test_feature_snapshot_shares_one_sort_across_horizons(spark, sf_dir):
    """The three horizon RANGE frames and the snapshot row_number all
    ride ONE (user, epoch) partitioning: exactly one hash Exchange on
    user_id in the plan — adding horizons must not add shuffles."""
    from etl_ml_pipeline_spark.queries.timeseries import feature_store_snapshot

    plan = (
        feature_store_snapshot(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan.count(
        "Exchange hashpartitioning(user_id"
    )
    # all three frames evaluate in Window operators over that single
    # exchange; no extra range-partition exchange beyond the output sort
    assert plan.count("Window") >= 1


def test_skew_diagnosis_is_takeordered(spark, sf_dir):
    """The top-10 hottest-key report must compile to per-partition
    top-k + driver merge (TakeOrderedAndProject), never a global sort
    of the per-key aggregate."""
    from etl_ml_pipeline_spark.queries.skew_q import skew_key_diagnosis_events

    plan = (
        skew_key_diagnosis_events(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    # and the per-key aggregate is map-side combined (partial_count)
    assert "partial_count" in plan


def test_split_decontam_gram_join_not_broadcast(spark, sf_dir):
    """The 80/20 split audit's gram join must SHUFFLE on the hash —
    both sides are corpus fractions, and the old forced
    F.broadcast(bench) hint would collect ~80% of the corpus's
    distinct gram hashes to the driver at 100 TB (VERDICT r12 #1).
    With the auto-broadcast threshold disabled, a forced hint would
    STILL plan a BroadcastHashJoin; the fixed code must not."""
    from etl_ml_pipeline_spark.queries.text_q import split_decontamination_stats

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(split_decontamination_stats(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # no logical-plan hint survives either (AQE stays free to choose)
    opt = (
        split_decontamination_stats(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "strategy=broadcast" not in opt


def test_decontam_e2e_lineage_pinned(spark, sf_dir):
    """The decontam e2e pins `deduped` and `clean` with lazy
    localCheckpoints so the score->gate->dedup->decontam lineage runs
    once: the final plan's prefix-sum branches must read the pinned
    RDD, and the only remaining parquet scan is the covering-bounds
    raw-id scan (VERDICT r12 #2 — previously 8 scans, 0 reuse)."""
    from etl_ml_pipeline_spark.queries.pipeline_q import (
        training_data_prep_decontam_e2e,
    )

    plan = _plan(training_data_prep_decontam_e2e(spark, sf_dir))
    # both prefix-sum branches consume the `clean` checkpoint
    assert plan.lower().count("existingrdd") >= 2, plan
    # the only parquet scans left are the covering-bounds raw-id scans
    # (one per prefix-sum branch, doc_id-only — guaranteed cheap); the
    # text column never reaches this plan
    scans = [
        line for line in plan.splitlines() if "FileScan parquet" in line
    ]
    assert len(scans) == 2, plan
    assert all("[doc_id" in s for s in scans), scans
    assert "text" not in plan.lower().replace("existingrdd", ""), plan


def test_decontam_index_gate_carries_no_forced_hint(spark, sf_dir, tmp_path):
    """The index-gate join must leave its strategy to Catalyst/AQE —
    no ResolvedHint anywhere (the r12 lesson: a forced benchmark-side
    broadcast is a scale-killer the moment the benchmark side grows).
    The corpus side stays one map-side gram explode + one id-keyed
    count: no CartesianProduct, and text never reaches the join."""
    from etl_ml_pipeline_spark.operators.decontam_index import (
        build_gram_index,
        gate_against_index,
        read_gram_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx_path = str(tmp_path / "gidx")
    build_gram_index(docs.filter("doc_id % 10 = 0"), idx_path)
    out = gate_against_index(
        docs.filter("doc_id % 10 <> 0"), read_gram_index(spark, idx_path)
    )
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_ffd_pack_single_segment_shuffle(spark, sf_dir):
    """The FFD packer's only data movement is the segment-hash
    partition feeding the Arrow-batched per-segment packing group —
    exactly one hashpartitioning exchange on segment_id upstream of
    FlatMapGroupsInPandas, and no join anywhere."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.packing import ffd_pack
    from etl_ml_pipeline_spark.operators.text import token_count

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
        )
        .filter("n_tok > 0")
    )
    plan = _plan(ffd_pack(docs, "n_tok", "doc_id", 512, n_segments=8))
    assert plan.count("Exchange hashpartitioning(segment_id") == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan


def test_phash_dedup_is_band_join_not_all_pairs(spark, sf_dir):
    """dedup_images_phash's candidate generation must be the banded
    equi-join on (band_idx, band_value) — never a cartesian/nested-loop
    all-pairs comparison (the plan that dies first at 100 TB). The
    Hamming verify may only run on band-collision candidates."""
    from etl_ml_pipeline_spark.queries.similarity_q import dedup_images_phash

    plan = _plan(dedup_images_phash(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the band self-join keys on (pos, bv)
    assert "pos" in plan and "bv" in plan
    # Hamming verification is the JVM-side bit_count fold, not Python
    assert "bit_count" in plan
    assert "FlatMapGroupsInPandas" not in plan  # only mapInPandas hashing


def test_pack_boundary_stats_single_scan_no_join(spark, sf_dir):
    """pack_attention_boundary_stats folds the FFD packing into pad /
    boundary accounting with ONE corpus scan and no joins: the FFD
    kernel's segment exchange plus two narrow post-kernel aggregates
    (applyInPandas emits fresh attributes, so Catalyst cannot reuse the
    segment partitioning — the re-exchanges carry only (id, size,
    bin) rows, never text)."""
    from etl_ml_pipeline_spark.queries.sampling_q import (
        pack_attention_boundary_stats,
    )

    plan = _plan(pack_attention_boundary_stats(spark, sf_dir))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, plan
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan
    # the post-kernel aggregates are map-side combined
    assert "partial_" in plan
    assert plan.count("Exchange hashpartitioning(segment_id") <= 3


def test_preference_pairs_single_group_exchange(spark, sf_dir):
    """DPO pair assembly must keep the single-exchange topology: both
    rank-1 windows AND the rollup ride ONE hashpartitioning on the
    prompt-group key; no join of any kind ever appears (the naive
    formulation self-joins candidates per group)."""
    from etl_ml_pipeline_spark.queries.ml_q import preference_pair_construction

    plan = _plan(preference_pair_construction(spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(lang") == 1
    # one parquet scan of documents; the score is map-side
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2


def test_semantic_decontam_broadcasts_benchmark(spark, sf_dir):
    """The benchmark side must enter via BroadcastExchange (eval sets
    are small by construction) and the corpus must never shuffle into
    a sort-merge join against it — the all-pairs cosine product exists
    only inside the broadcast nested loop, row-at-a-time."""
    from etl_ml_pipeline_spark.queries.similarity_q import semantic_decontam_stats

    plan = _plan(semantic_decontam_stats(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # both rollups are map-side combined
    assert "partial_" in plan


def test_mmr_greedy_kernel_never_rescans_corpus(spark, sf_dir):
    """The 12-candidate pool and its pairwise cosines are lineage-
    pinned (lazy localCheckpoint) and the greedy runs as ONE Arrow
    cogroup kernel: the executed plan must read ONLY the checkpointed
    RDDs — a parquet scan here means the selection re-derived the pool
    from the corpus. The kernel replaced an unrolled 4-stage DataFrame
    formulation whose ~79 tiny-frame exchanges cost ~1.5s of pure
    scheduling latency at ANY scale factor (sf0.1 steady 2.0-2.4s ->
    1.1-1.4s, identical oracle-checked results)."""
    from etl_ml_pipeline_spark.queries.similarity_q import ann_mmr_rerank_topk

    df = ann_mmr_rerank_topk(spark, sf_dir)
    df.collect()  # materialize the lazy checkpoints
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan and "Scan parquet" not in plan
    # the greedy is ONE kernel, not a stage per selection (the AQE
    # string prints the final AND initial plans, so each node name
    # appears at most twice)
    assert plan.count("FlatMapCoGroupsInPandas") <= 2
    assert plan.count("Exchange") <= 12


def test_ivf_mmr_pool_build_has_no_corpus_nested_loop(spark, sf_dir):
    """ann_mmr_ivf_topk (VERDICT r14 ask #2): the MMR pool must come
    from the IVF-PQ shortlist, never an exact full-corpus scan. The
    structural tell: the brute-force pool build computes cosine inside
    a BroadcastNestedLoopJoin (corpus x broadcast queries cross join);
    the composed stack reaches the corpus only through equi-joins
    (cent_id for ADC, c_id for the 50-id point-lookup fetch), so the
    PRE-checkpoint pool plan must contain no nested-loop/cartesian
    node at all. The post-checkpoint greedy carries the same
    kernel-only pins as the standalone MMR query."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks_from_rows,
    )
    from etl_ml_pipeline_spark.queries.similarity_q import (
        _MMR_IVF_CANDS,
        _MMR_IVF_PROBE,
        _PQ_K,
        _PQ_M,
        _PQ_STEP,
        ann_mmr_ivf_topk,
    )
    from etl_ml_pipeline_spark.queries.tables import t

    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    codebooks = pq_codebooks_from_rows(
        emb, "embedding", "vec_id", m=_PQ_M, k=_PQ_K, id_step=_PQ_STEP
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    short = ivfpq_topk(
        queries, corpus, centroids, codebooks,
        k=_MMR_IVF_CANDS, n_probe=_MMR_IVF_PROBE,
    ).select("q_id", "c_id").filter(F.col("c_id") != F.col("q_id"))
    pool = short.join(corpus, "c_id").join(F.broadcast(queries), "q_id")
    plan = _plan(pool)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # end-to-end: the greedy itself reads only the checkpointed pool
    df = ann_mmr_ivf_topk(spark, sf_dir)
    df.collect()
    final = _plan(df)
    assert "FlatMapCoGroupsInPandas" in final
    assert "Scan ExistingRDD" in final
    assert "FileScan" not in final and "Scan parquet" not in final
    assert final.count("FlatMapCoGroupsInPandas") <= 2


def test_semantic_decontam_shortlist_is_cell_equi_join(spark, sf_dir):
    """semantic_decontam_shortlist_stats (VERDICT r14 ask #3): the
    shortlist leg's corpus-vs-benchmark cosine must run inside the
    (cent_id) equi-join — if the probed-cell pruning fell away, the
    leg would degenerate to the same nested-loop all-pairs product as
    the exact yardstick leg. The full query plan keeps exactly ONE
    nested-loop join (the exact leg) and at most the tiny centroid
    collects drive the probe UDF."""
    from etl_ml_pipeline_spark.queries.similarity_q import (
        semantic_decontam_shortlist_stats,
    )

    plan = _plan(semantic_decontam_shortlist_stats(spark, sf_dir))
    # exact leg only: one broadcast nested loop (AQE may print the
    # final and initial plans, so allow each node to appear twice)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan
    # the shortlist leg is a real equi-join on cent_id
    assert "cent_id" in plan


def test_crawl_gate_index_read_is_partition_pruned(spark, tmp_path):
    """crawl_ingest_e2e gates new crawl batches against gen 0 only —
    the index is partitioned by gen, so the gate's scan must carry a
    gen partition filter instead of listing every generation (VERDICT
    r14 ask #5's 'partition-pruned index reads')."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.phash_index import (
        append_phash_index,
        build_phash_index,
        gate_against_phash_index,
        read_phash_index,
    )

    path = str(tmp_path / "ix")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, dhash string")
    h = "01" * 32
    build_phash_index(mk([(1, h)]), path)
    append_phash_index(mk([(2, h)]), path)
    gated = gate_against_phash_index(
        mk([(9, h)]),
        read_phash_index(spark, path).filter(F.col("gen") == 0),
        radius=1,
    )
    plan = _formatted(gated)
    import re

    scans = re.findall(r"PartitionFilters: \[[^\]]*gen[^\]]*\]", plan)
    assert scans, plan[:2000]
