"""Declarative relational transforms for YAML pipelines: filter, select,
and deterministic hash sampling.

The reference's transform surface is whole-DataFrame plugins
(/root/reference/src/data_extractor/transformers/base.py:43-49); it has
no row-filter or projection step (SURVEY.md §2.6). These fill that gap
the Spark way: config strings compile to Catalyst expressions
(``F.expr``), so filters push into scans and projections prune columns —
the optimizer sees declared intent, not an opaque Python function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.base import BaseTransform
from etl_ml_pipeline_spark.operators.text import token_hash60
from etl_ml_pipeline_spark.registry import register_transform


@register_transform("filter")
class FilterTransform(BaseTransform):
    """Keep rows matching a SQL boolean expression.

    config: {where: "lang = 'en' AND quality >= 0.5"}

    Because the predicate is a Catalyst expression (not a Python lambda),
    it participates in pushdown/pruning and stays in codegen.
    """

    def validate(self, df: DataFrame) -> None:
        if not str(self.config.get("where", "")).strip():
            raise ValueError("filter transform requires a non-empty 'where'")

    def transform(self, df: DataFrame) -> DataFrame:
        return df.filter(F.expr(self.config["where"]))


@register_transform("select")
class SelectTransform(BaseTransform):
    """Project columns and/or computed expressions.

    config: {columns: ["doc_id", "lang"], exprs: {n_chars: "length(text)"}}

    Either key may be omitted; exprs are appended after columns. Explicit
    projection is what lets the parquet scan read 2 columns instead of 40.
    """

    def validate(self, df: DataFrame) -> None:
        if not self.config.get("columns") and not self.config.get("exprs"):
            raise ValueError("select transform requires 'columns' and/or 'exprs'")

    def transform(self, df: DataFrame) -> DataFrame:
        cols = [F.col(c) for c in self.config.get("columns", [])]
        cols += [
            F.expr(e).alias(name)
            for name, e in dict(self.config.get("exprs", {})).items()
        ]
        return df.select(*cols)


@register_transform("sql")
class SqlTransform(BaseTransform):
    """Run a SQL statement over the current DataFrame.

    config: {query: "SELECT lang, count(*) AS n FROM input GROUP BY lang",
             view: "input"}          # view name the query sees (default)

    This hands the YAML engine Spark's ENTIRE SQL surface in one plugin —
    and because ``spark.sql`` parses into the same Catalyst plan as the
    DataFrame API, pushdown/pruning/AQE all still apply to the upstream
    source. The temp view registration is metadata-only (no
    materialization).
    """

    def validate(self, df: DataFrame) -> None:
        if not str(self.config.get("query", "")).strip():
            raise ValueError("sql transform requires a non-empty 'query'")

    def transform(self, df: DataFrame) -> DataFrame:
        view = self.config.get("view", "input")
        df.createOrReplaceTempView(view)
        return df.sparkSession.sql(self.config["query"])


@register_transform("join")
class JoinTransform(BaseTransform):
    """Join the pipeline DataFrame against a secondary source.

    config:
      right: {type: parquet, config: {path: ...}}   # any registered source
      on: [custkey]              # or {left: c_custkey, right: o_custkey}
      how: inner                 # any Spark join type
      broadcast: true            # hint the right side (dimension tables)

    The right side goes through the same source registry as extract, so
    every format/API the engine reads can be a join dimension. With
    ``broadcast: true`` the join never shuffles the (big) pipeline side —
    the 100 TB default for fact-dim enrichment.
    """

    def validate(self, df: DataFrame) -> None:
        right = self.config.get("right") or {}
        if "type" not in right:
            raise ValueError("join transform requires right.type")
        if not self.config.get("on"):
            raise ValueError("join transform requires 'on'")

    def transform(self, df: DataFrame) -> DataFrame:
        from etl_ml_pipeline_spark.registry import SOURCES

        right_cfg = self.config["right"]
        source_cls = SOURCES.get(right_cfg["type"])
        with source_cls(df.sparkSession, right_cfg.get("config", {})) as src:
            right = src.extract()
        if self.config.get("broadcast"):
            right = F.broadcast(right)
        on = self.config["on"]
        if isinstance(on, dict):
            cond = df[on["left"]] == right[on["right"]]
        else:
            cond = list(on) if isinstance(on, (list, tuple)) else [on]
        return df.join(right, cond, self.config.get("how", "inner"))


@register_transform("hash_sample")
class HashSampleTransform(BaseTransform):
    """Deterministic hash-mod sampling (see queries/sampling_q.py for the
    rationale: reproducible across retries/engines, pure map-side filter,
    no RNG state tied to partitioning).

    config:
      key_col: doc_id          # stable row key
      rate_pct: 10             # default keep-rate in percent
      strata:                  # optional per-value overrides
        column: lang
        rates: {en: 80, zh: 40}
    """

    def validate(self, df: DataFrame) -> None:
        if "key_col" not in self.config:
            raise ValueError("hash_sample requires 'key_col'")
        rate = self.config.get("rate_pct", 10)
        if not 0 <= float(rate) <= 100:
            raise ValueError(f"rate_pct must be in [0, 100], got {rate}")

    def transform(self, df: DataFrame) -> DataFrame:
        bucket = token_hash60(F.col(self.config["key_col"]).cast("string")) % 100
        rate = F.lit(int(self.config.get("rate_pct", 10)))
        strata = self.config.get("strata") or {}
        if strata:
            col = F.col(strata["column"])
            for value, r in sorted(dict(strata["rates"]).items()):
                rate = F.when(col == value, F.lit(int(r))).otherwise(rate)
        return df.filter(bucket < rate)


def cdc_latest_view(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """Merge-on-read current view: base snapshot + change rows -> the
    latest row per key, with tombstones dropped — the lakehouse CDC
    pattern (Delta/Hudi/Iceberg snapshot reads do exactly this).

    Scale: ONE shuffle on the key for the ranking window; no join of
    base against updates (a join formulation shuffles both sides AND
    re-shuffles the result). Changes win ties against the base at equal
    versions (`__src` tiebreak) so re-applying the same change batch is
    idempotent. ``delete_col`` (boolean) marks tombstones; rows whose
    LATEST version is a delete disappear from the view.
    """
    b = base.withColumn("__src", F.lit(0))
    u = updates.withColumn("__src", F.lit(1))
    if delete_col is None:
        delete_col = "__deleted"
        b = b.withColumn(delete_col, F.lit(False))
        u = u.withColumn(delete_col, F.lit(False))
    merged = b.unionByName(u)
    w = W.partitionBy(*keys).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (~F.col(delete_col)))
        .drop("__rn", "__src", delete_col)
    )


def scd2_history(
    changes: DataFrame,
    keys: list[str],
    version_col: str = "version",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history build: turn a pile of
    versioned change rows into validity intervals — each row gains
    ``valid_from`` (its own version), ``valid_to`` (the NEXT version of
    the same key, null while current) and ``is_current``. The warehouse
    companion to :func:`cdc_latest_view`: that keeps only the latest row,
    this keeps every row with the interval during which it was truth,
    which is what point-in-time joins and as-of training-data snapshots
    consume.

    Scale: ONE shuffle on the key for the lead() window — no self-join
    of changes against changes (the naive interval build joins each row
    to its successor, shuffling twice and exploding on hot keys). Rows
    per key are typically few (version chains), so per-partition window
    state stays tiny regardless of total table size.
    """
    w = W.partitionBy(*keys).orderBy(F.col(version_col).asc())
    return (
        changes.withColumn("valid_from", F.col(version_col))
        .withColumn("valid_to", F.lead(version_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def _pin_partitioning(ranged: DataFrame) -> DataFrame:
    """Pin ONE physical range layout for a frame that multiple plan
    branches must see identically.

    ``repartitionByRange`` draws SAMPLED boundaries, and the two-phase
    prefix operators consume the ranged frame from two branches (local
    window + per-partition totals). Their correctness requires both
    branches to agree on ``__pid`` — which holds only while Catalyst
    canonicalizes the two subtrees identically and emits a
    ReusedExchange. That identity is fragile (the round-9 lesson):
    column pruning under the totals' aggregate can specialize its copy
    of the exchange, the two jobs then re-SAMPLE different boundaries,
    and the offsets silently corrupt (caught by training_data_prep_e2e
    at sf1, where a passthrough column broke reuse and pack counts
    drifted run to run).

    A lazy localCheckpoint materializes the exchange once on first use;
    every branch then reads the same stored partitions, making __pid a
    fact of the data rather than of optimizer luck. Cost: the frame is
    written to executor storage once — the same order of local I/O the
    reused shuffle files already cost; lineage truncation trades
    recompute-on-executor-loss for determinism, the documented
    localCheckpoint contract (same trade as the connected-components
    loop in operators/graph.py)."""
    return ranged.localCheckpoint(eager=False)


_NUMERIC_LEADS = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _ranged_with_pid(
    df: DataFrame,
    parts: int,
    order_cols: list[str],
    fallback_cols: list[str] | None = None,
    pin_input: bool = False,
    bounds_df: DataFrame | None = None,
) -> DataFrame:
    """Assign the two-phase operators' partition id ``__pid`` so that it
    is (a) monotone in the ``order_cols`` ordering and (b) DETERMINISTIC
    across plan branches.

    Numeric leading key (every hot caller: doc_id, 60-bit hashes,
    prices): __pid is an arithmetic value bucket over the exact global
    [min, max] — a PURE FUNCTION of the row plus one 1-row broadcast
    aggregate, so any number of consumers agree with no materialization
    and no sampled range exchange at all (the window's own hash
    exchange on __pid is the only data shuffle). Monotone even under
    double rounding: x -> (x-lo)/span*parts composes weak-order-
    preserving operations, so x1 <= x2 always yields pid1 <= pid2;
    equal keys share a bucket by construction. NULL keys get bucket -1
    (sorts first, matching ASC NULLS FIRST). Balance tracks the VALUE
    distribution rather than row quantiles — a pathologically clustered
    key degrades parallelism, never correctness (document per caller;
    the operators' callers order by dense ids, md5 hashes, or prices).

    Non-numeric leading key (e.g. ISO date strings in ml/predict):
    fall back to sampled repartitionByRange pinned by
    :func:`_pin_partitioning` (correct for any type, costs one
    executor-storage materialization).

    ``pin_input=True`` forces the pinned-materialization path even for
    numeric keys: the arithmetic-bucket plan evaluates the INPUT
    LINEAGE once per consuming branch (local window + per-partition
    totals), so when upstream is compute-heavy (tokenization feeding a
    packing prefix sum) a cluster caller can trade one executor-storage
    write for the second evaluation. Measured on the packing shape:
    at sf0.1 the default wins (0.91s vs 1.14s pinned — the write
    dominates a cheap re-scan); by sf10 they cross (3.16s vs 3.07s
    pinned as the tokenize re-evaluation grows with the corpus) — at
    cluster scale with compute-heavy upstream, pass pin_input=True.

    ``bounds_df`` (numeric path only): a 1-row frame with DOUBLE
    columns ``__lo``/``__hi`` COVERING the finite key range — e.g. a
    bare min/max over the raw table's id column, computed before heavy
    transforms. When supplied it replaces the self-derived
    ``df.agg(min,max)``, so the bucket-bounds branch is a cheap
    column-pruned scan instead of a third evaluation of the full input
    lineage (the 100 TB concern on training_data_prep_e2e; pinned by
    tests/test_plans.py). A superset range only skews bucket BALANCE —
    out-of-range keys clamp into [0, parts-1], so correctness never
    depends on the bounds being tight.

    Non-finite keys (explicit clamp semantics, pinned by
    tests/test_relational_ops.py): NULL -> bucket -1 (sorts first,
    matching ASC NULLS FIRST); -Inf -> bucket 0; NaN and +Inf -> the
    top bucket (Spark sorts NaN above +Inf — both land in the last
    range). ``__lo``/``__hi`` are computed over FINITE keys only, so a
    single NaN/Inf row no longer degenerates span to NaN/Inf and
    serializes every finite row into one bucket (ADVICE r10 #4)."""
    lead = order_cols[0]
    dtype = dict(df.dtypes).get(lead, "")
    if not pin_input and (dtype in _NUMERIC_LEADS or dtype.startswith("decimal")):
        x = F.col(lead).cast("double")
        inf, ninf = F.lit(float("inf")), F.lit(float("-inf"))
        if bounds_df is not None:
            stats = bounds_df
        else:
            xf = F.when(~F.isnan(x) & (x < inf) & (x > ninf), x)
            stats = df.agg(F.min(xf).alias("__lo"), F.max(xf).alias("__hi"))
        span = F.col("__hi") - F.col("__lo")
        bucket = F.floor((x - F.col("__lo")) / span * parts)
        pid = (
            F.when(x.isNull(), F.lit(-1))
            .when(F.isnan(x) | (x == inf), F.lit(parts - 1))
            .when(x == ninf, F.lit(0))
            .when(F.col("__lo").isNull() | (span <= 0), F.lit(0))
            .otherwise(
                F.greatest(
                    F.lit(0).cast("bigint"),
                    F.least(F.lit(parts - 1).cast("bigint"), bucket),
                )
            )
            .cast("int")
        )
        return (
            df.crossJoin(F.broadcast(stats))
            .withColumn("__pid", pid)
            .drop("__lo", "__hi")
        )
    cols = [F.col(c) for c in (fallback_cols or order_cols)]
    return _pin_partitioning(
        df.repartitionByRange(parts, *cols).withColumn(
            "__pid", F.spark_partition_id()
        )
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` as an int column: a
    :func:`grouped_running_sum` of ones over no groups."""
    rn = grouped_running_sum(df, F.lit(1), [], order_cols, out_col, num_partitions)
    return rn.withColumn(out_col, F.col(out_col).cast("int"))


def grouped_running_sum(
    df: DataFrame,
    value_col: str | Column,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str = "running_sum",
    num_partitions: int | None = None,
    broadcast_offsets: bool = True,
    pin_input: bool = False,
    total_col: str | None = None,
    bounds_df: DataFrame | None = None,
) -> DataFrame:
    """Exact running (prefix) sum of ``value_col`` (a column name or a
    Column) in ``order_cols`` order within each ``group_cols`` group,
    without the single-task sort of ``Window.orderBy`` (``group_cols=[]``
    is the global prefix sum) or the one-task-per-group sort of
    ``Window.partitionBy(group)``, which serializes on the largest group
    (a mega-source at 100 TB becomes a single straggler task). The one
    implementation of the two-phase prefix behind sequence packing,
    token budgets, epoch shuffles, global ranks and exact percentiles; a
    row number is the sum of ``F.lit(1)`` (:func:`global_row_number`).

    Two phases: range repartition on the order key (``__pid``, see
    :func:`_ranged_with_pid`, which also takes ``pin_input`` and
    ``bounds_df``) keeps each group's rows in ``__pid`` order; local
    cumsum windows run per (partition, group), and the carry-in offset
    for a (partition, group) cell is the sum of the SAME group's totals
    in earlier partitions — a groups x partitions frame, broadcast. A
    group spanning many partitions parallelizes across all of them.

    Exact for integer/decimal values; for doubles the result equals the
    naive window's only up to float re-association (sums are grouped by
    partition) — use longs for money/token counts, as the callers here
    do. ``order_cols`` should be a TOTAL order within a group (append a
    unique tiebreak column if the key can repeat): with duplicate full
    ordering tuples the per-row prefix sums are tie-order-dependent in
    ANY engine (found by the round-11 randomized hunt; pinned by
    tests/test_plans.py's prefix-sum property test). A ROWS frame still
    gives tied rows distinct, consecutive sums of ones, as
    ``row_number()`` does.

    Bound (ADVICE r08 #3): the offsets frame is |groups| x |partitions|
    rows, so the explicit broadcast is only safe while group
    cardinality is modest (mixture sources, languages, tenants — the
    operator's intended keys; a sizing count at runtime would cost a
    full extra pass, so the choice is the caller's). Callers with
    high-cardinality groups must pass ``broadcast_offsets=False`` —
    the offset join becomes a plain shuffled equi-join, same result,
    no broadcast-limit/driver-memory cliff — or simply use
    ``Window.partitionBy(group)`` directly: with many groups each
    group is small by definition, so the straggler concern this
    operator exists for doesn't apply.

    ``total_col`` (r16, VERDICT r15 #6): additionally attach each
    group's GRAND total under that name, computed as a window over the
    per-(partition, group) totals frame — |partitions| rows per group,
    a constant bound — and delivered through the same offset join. This
    replaces the ``Window.partitionBy(group)`` total a caller would
    otherwise run over the full frame (one task per group again), for
    free: no extra pass, no extra join. Exact for integer values, so
    callers that need bit-identical totals (interpolated_percentiles)
    get them.
    """
    from etl_ml_pipeline_spark.operators.joins import null_safe_join

    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    ocols = [F.col(c) for c in order_cols]
    # __pid buckets the ORDER key (not the group): the local windows and
    # totals are keyed by (__pid, group), so a mega-group parallelizes
    # across every order-range bucket, and within each group the bucket
    # id is monotone in the order key — exactly what the per-group
    # carry-in (offsets ordered by __pid) requires. The non-numeric
    # fallback ranges on (group, order) — also monotone-within-group.
    ranged = _ranged_with_pid(
        df,
        parts,
        order_cols,
        fallback_cols=[*group_cols, *order_cols],
        pin_input=pin_input,
        bounds_df=bounds_df,
    )
    w_local = (
        W.partitionBy("__pid", *group_cols)
        .orderBy(*ocols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = ranged.withColumn("__lsum", F.sum(value_col).over(w_local))
    totals = ranged.groupBy("__pid", *group_cols).agg(
        F.sum(value_col).alias("__tot")
    )
    w_off = (
        W.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off_cols = [
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off")
    ]
    if total_col is not None:
        # per-group grand total over the |partitions|-rows-per-group
        # totals frame (bounded window — never the full input)
        w_gtot = W.partitionBy(*group_cols)
        off_cols.append(F.sum("__tot").over(w_gtot).alias(total_col))
    offsets = totals.select("__pid", *group_cols, *off_cols)
    # null-safe offset join (ADVICE r08 #4 root cause): a NULL group
    # key is a legitimate group — Window.partitionBy and groupBy both
    # treat it as one — so the join back must be eqNullSafe per key or
    # every NULL-keyed row silently drops here.
    joined = null_safe_join(
        local,
        F.broadcast(offsets) if broadcast_offsets else offsets,
        ["__pid", *group_cols],
    )
    return joined.withColumn(out_col, F.col("__lsum") + F.col("__off")).drop(
        "__pid", "__lsum", "__off"
    )


# Most distinct group_col values a mixture transform accepts: its
# one-row-per-group frame is summed in one unpartitioned window (one
# task), fine for a mixture dimension (source, lang; the catalog passes
# 20 sources), a stall for a data-scaled key such as doc_id.
MIXTURE_MAX_GROUPS = 10_000


def _mixture_total(gcol: str, wcol: str, w_all) -> Column:
    """``sum(wcol)`` over the per-group frame, failing the query in the
    same window when the frame holds more than MIXTURE_MAX_GROUPS rows."""
    return F.when(
        F.count(F.lit(1)).over(w_all) > MIXTURE_MAX_GROUPS,
        F.raise_error(F.lit(
            f"group_col {gcol!r} has more than {MIXTURE_MAX_GROUPS} distinct "
            "values; a mixture needs a bounded dimension such as source or lang"
        )),
    ).otherwise(F.sum(wcol).over(w_all))


def largest_remainder(
    weights: DataFrame, key: str, weight_col: str, total: int, out_col: str
) -> DataFrame:
    """Split the integer ``total`` across ``weights``' rows (one per
    ``key``) in proportion to ``weight_col`` by largest remainder
    (Hamilton): total*w DIV sum(w) each, then one leftover unit each to
    the largest remainders, ties on the lower ``key``. Returns
    ``weights`` plus ``out_col``, summing to ``total`` exactly.

    Scale: unpartitioned windows over the |keys|-row frame (one task,
    bounded by MIXTURE_MAX_GROUPS), not agg + crossJoin diamonds, which
    re-derive the weights' lineage once per branch.
    """
    w_all = W.partitionBy()
    quota = weights.withColumn(
        "__wt", _mixture_total(key, weight_col, w_all)
    ).select(
        *weights.columns,
        F.expr(f"{total} * {weight_col} DIV __wt").alias("__base"),
        F.expr(f"({total} * {weight_col}) % __wt").alias("__rem"),
    )
    w_rem = W.orderBy(F.desc("__rem"), key)
    return (
        quota.withColumn("__spare", F.lit(total) - F.sum("__base").over(w_all))
        .withColumn("__pos", F.row_number().over(w_rem))
        .select(
            *weights.columns,
            (
                F.col("__base")
                + F.when(F.col("__pos") <= F.col("__spare"), 1).otherwise(0)
            ).alias(out_col),
        )
    )


@register_transform("token_budget_mixture")
class TokenBudgetMixture(BaseTransform):
    """Materialize a training mixture specified in TOKENS: split
    ``budget_tokens`` across groups by integer largest-remainder over
    per-group ``weights`` (unlisted groups get weight 1; weight 0
    excludes), then keep each group's md5-hash-ordered doc prefix whose
    STARTING token offset is inside the group budget — so exactly one
    doc may straddle the boundary and selection is reshuffle-proof.

    config:
      budget_tokens: 1000000
      group_col: source
      text_col: text
      id_col: doc_id
      weights: {src0: 4, src1: 1}   # optional

    Scale: weight/quota tables are |groups|-sized broadcasts; the
    per-group cumulative offset is :func:`grouped_running_sum`, so a
    mega-group parallelizes across partitions instead of serializing
    in one Window.partitionBy task.
    """

    def validate(self, df: DataFrame) -> None:
        if "budget_tokens" not in self.config:
            raise ValueError("token_budget_mixture requires 'budget_tokens'")
        if int(self.config["budget_tokens"]) <= 0:
            raise ValueError("budget_tokens must be positive")

    def transform(self, df: DataFrame) -> DataFrame:
        from etl_ml_pipeline_spark.operators.text import token_count

        budget = int(self.config["budget_tokens"])
        gcol = self.config.get("group_col", "source")
        text_col = self.config.get("text_col", "text")
        id_col = self.config.get("id_col", "doc_id")
        spec = {k: int(v) for k, v in (self.config.get("weights") or {}).items()}

        wexpr = F.lit(1)
        for value, wt in sorted(spec.items()):
            wexpr = F.when(F.col(gcol) == value, F.lit(wt)).otherwise(wexpr)
        weights = (
            df.select(gcol).distinct().select(F.col(gcol), wexpr.alias("__w"))
        ).filter(F.col("__w") > 0)
        alloc = largest_remainder(
            weights, gcol, "__w", budget, "__budget"
        ).select(gcol, "__budget")
        cum = grouped_running_sum(
            df.withColumn(
                "__ntok", token_count(F.col(text_col)).cast("long")
            ).withColumn(
                "__h", token_hash60(F.col(id_col).cast("string"))
            ),
            "__ntok",
            [gcol],
            ["__h", id_col],
            out_col="__cum",
        )
        # null-safe allocation join (ADVICE r08 #4): the distinct()
        # weight derivation above keeps a NULL group key as its own
        # group with the default weight 1 (F.when(NULL == v) falls to
        # otherwise), so the join back must match NULL keys too — a
        # plain equi-join would silently drop the whole null-source
        # slice. A YAML weight spec cannot address the NULL group, so
        # it always rides at weight 1; null-fill upstream to exclude it.
        from etl_ml_pipeline_spark.operators.joins import null_safe_join

        return (
            null_safe_join(cum, F.broadcast(alloc), [gcol])
            .filter(F.col("__cum") - F.col("__ntok") < F.col("__budget"))
            .drop("__ntok", "__h", "__cum", "__budget")
        )


@register_transform("mixture_reweight")
class MixtureReweight(BaseTransform):
    """DoReMi-style multiplicative-weights domain reweighting on the
    YAML surface (VERDICT r14 ask #8): the ``mixture_doremi_weights``
    algebra — per-group quality deficit vs a target drives share-aware
    multiplicative boosts — with the rounds/target/step that query
    hard-codes exposed as config. Every step stays exact integer ppm
    arithmetic (no exp(): overflow-safe, bit-identical across engines
    and replays).

    config:
      group_col: source
      text_col: text        # TTR quality default lives on this column
      quality_col: null     # per-row quality ppm column; overrides the
                            # distinct-token TTR-ppm default
      rounds: 3             # boost iterations (>= 0)
      target_ppm: 700000    # quality target; deficit below it boosts
      step_ppm: 1000000     # boost scale: 1000000 = the query's step,
                            # 500000 = half-strength updates
      mode: annotate        # annotate -> rows + weight_ppm (chainable);
                            # weights -> the |groups|-row weight table

    Scale: ONE corpus pass for the per-group rollup, then ``rounds``
    iterations over a |groups|-row frame (1-row total broadcast each —
    the same shape the oracle-checked query pins); annotate mode joins
    the weights back as a |groups|-row broadcast.
    """

    def validate(self, df: DataFrame) -> None:
        cfg = self.config
        gcol = cfg.get("group_col", "source")
        qcol = cfg.get("quality_col")
        need = [gcol, qcol or cfg.get("text_col", "text")]
        for c in need:
            if c not in df.columns:
                raise ValueError(f"mixture_reweight: column {c!r} not in input")
        if int(cfg.get("rounds", 3)) < 0:
            raise ValueError("mixture_reweight: rounds must be >= 0")
        if cfg.get("mode", "annotate") not in ("annotate", "weights"):
            raise ValueError("mixture_reweight: mode is annotate|weights")

    def transform(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        gcol = cfg.get("group_col", "source")
        rounds = int(cfg.get("rounds", 3))
        target = int(cfg.get("target_ppm", 700_000))
        step = int(cfg.get("step_ppm", 1_000_000))
        if cfg.get("quality_col"):
            q_ppm = F.col(cfg["quality_col"]).cast("long")
        else:
            text_col = cfg.get("text_col", "text")
            q_ppm = F.expr(
                "CAST(CAST(size(array_distinct(split(trim("
                f"{text_col}), '\\\\s+'))) AS BIGINT) * 1000000 div "
                f"size(split(trim({text_col}), '\\\\s+')) AS BIGINT)"
            )
        per = (
            df.groupBy(gcol)
            .agg(F.count("*").alias("n_docs"), F.sum(q_ppm).alias("__sum_q"))
            .withColumn("mean_q_ppm", F.expr("__sum_q div n_docs"))
            .withColumn(
                "excess_ppm",
                F.greatest(
                    F.lit(0).cast("long"),
                    F.lit(target) - F.col("mean_q_ppm"),
                ),
            )
            .withColumn("__w", F.lit(1_000_000).cast("long"))
            .drop("__sum_q")
        )
        # r15 optimization: per-round totals as unpartitioned window
        # sums instead of agg + crossJoin diamonds — the diamond embeds
        # the previous round's subtree twice (2^rounds corpus-aggregate
        # copies; column pruning kills exchange reuse). One corpus
        # pass, then linear per-round arithmetic over |groups| rows.
        # Same integer ppm arithmetic — identical results (mirrors
        # mixture_doremi_weights).
        # The windowed frame is |distinct group_col| rows; the final
        # total checks the same bound as TokenBudgetMixture above.
        w_all = W.partitionBy()
        for _ in range(rounds):
            per = (
                per.withColumn("__tot", F.sum("__w").over(w_all))
                .withColumn("__share", F.expr("__w * 1000000 div __tot"))
                .withColumn(
                    "__boost",
                    F.expr(
                        "excess_ppm * (1000000 - __share) div 1000000"
                        f" * {step} div 1000000"
                    ),
                )
                .withColumn("__w", F.expr("__w * (1000000 + __boost) div 1000000"))
                .drop("__tot", "__share", "__boost")
            )
        weights = per.withColumn("__tot", _mixture_total(gcol, "__w", w_all)).select(
            gcol,
            "n_docs",
            "mean_q_ppm",
            "excess_ppm",
            F.expr("__w * 1000000 div __tot").alias("weight_ppm"),
        )
        if cfg.get("mode", "annotate") == "weights":
            return weights
        from etl_ml_pipeline_spark.operators.joins import null_safe_join

        return null_safe_join(
            df,
            F.broadcast(weights.select(gcol, "weight_ppm")),
            [gcol],
        )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level reconciliation between two snapshots: which keys were
    ``added`` (right only), ``removed`` (left only), or ``changed``
    (both sides, payload differs) — the data-validation pass after any
    migration/backfill/CDC apply.

    Scale: each side reduces to (key, payload-hash) BEFORE the join, so
    the full-outer join ships 128-bit hashes, not payloads — comparing
    two 100 TB snapshots moves ~32 bytes per row. The hash is md5 over
    \\x1f-joined, null-sentineled column values (the same
    delimiter discipline as the oracle harness: no concatenation
    collisions).
    """
    compare = compare_cols or [
        c for c in left.columns if c not in keys and c in right.columns
    ]

    def hashed(df: DataFrame, out: str) -> DataFrame:
        payload = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in compare
                ],
            )
        )
        return df.select(*keys, payload.alias(out))

    joined = hashed(left, "__lh").join(hashed(right, "__rh"), keys, "full_outer")
    status = (
        F.when(F.col("__lh").isNull(), F.lit("added"))
        .when(F.col("__rh").isNull(), F.lit("removed"))
        .when(F.col("__lh") != F.col("__rh"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*keys, "status")
    )


def incremental_agg_refresh(
    base: DataFrame,
    base_agg: DataFrame,
    upserts: DataFrame,
    delete_keys: DataFrame,
    key: str,
    group: str,
    measure: str,
) -> DataFrame:
    """Refresh a materialized ``group -> (cnt, tot)`` aggregate from a
    CDC batch without re-aggregating the base table.

    ``base_agg`` must carry columns ``(group, cnt, tot)`` as produced
    by ``base.groupBy(group).agg(count(*), sum(measure))``. ``upserts``
    are full replacement rows (insert where the key is absent);
    ``delete_keys`` is a one-column frame of keys to drop. Upsert and
    delete key sets must be disjoint (CDC batches are compacted to one
    op per key upstream — see cdc_latest_view).

    The refreshed aggregate is ``base_agg ⊕ delta``: the old
    contribution of every touched base row is retracted, the new
    contribution of every upsert added — the incremental-view-
    maintenance identity for distributive aggregates. Correct only for
    exact-typed measures (integral/DECIMAL): float retraction leaves
    roundoff residue, so cast money to DECIMAL first (the caller's
    job; see queries/relational.agg_incremental_refresh).

    Scale: shuffles O(|changes| + |groups|) rows. The base appears
    only in one key semi-join to recover old contributions — with
    before-image CDC feeds even that disappears; it is never
    re-aggregated.
    """
    changed_keys = upserts.select(key).unionByName(delete_keys.select(key))
    retract = base.join(changed_keys, key, "left_semi").select(
        F.col(group),
        F.lit(-1).cast("long").alias("cnt"),
        (-F.col(measure)).alias("tot"),
    )
    additions = upserts.select(
        F.col(group),
        F.lit(1).cast("long").alias("cnt"),
        F.col(measure).alias("tot"),
    )
    return (
        base_agg.select(group, "cnt", "tot")
        .unionByName(retract)
        .unionByName(additions)
        .groupBy(group)
        .agg(F.sum("cnt").alias("cnt"), F.sum("tot").alias("tot"))
    )


def group_ols(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group closed-form OLS (y ~ x) from algebraic moments in ONE
    map-side-combined aggregation — fit millions of per-entity models
    with no per-group Python and no iteration.

    ``x_col``/``y_col`` should be integer-grid columns (epoch days,
    cents) so the five moments are exact int64 and the slope/intercept
    doubles are reduction-order-free. Returns one row per key group:
    (*keys, n, slope, intercept). Degenerate groups (constant x) get
    null slope/intercept via the 0-denominator division.
    """
    m = df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(x_col).alias("__sx"),
        F.sum(y_col).alias("__sy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("__sxx"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("__sxy"),
    )
    num = (F.col("n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    slope = F.when(den != 0, num / den)
    intercept = (
        F.col("__sy").cast("double") - slope * F.col("__sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        *keys, "n", slope.alias("slope"), intercept.alias("intercept")
    )


def _nearest_rank_walk(grid: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """``grid`` (one row per (keys, value) with its frequency ``__f``)
    plus the per-key cumulative-frequency walk ``__cum`` and group size
    ``__total``."""
    w_cum = (
        W.partitionBy(*keys)
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return grid.select(
        *grid.columns,
        F.sum("__f").over(w_cum).alias("__cum"),
        F.sum("__f").over(W.partitionBy(*keys)).alias("__total"),
    )


def _nearest_rank_cut(value_col: str, num: int, den: int) -> Column:
    """The smallest value whose cumulative frequency reaches rank
    k = ceil(num/den * n), in integer arithmetic."""
    return F.min(
        F.when(
            F.col("__cum") >= F.expr(f"({num} * __total + {den - 1}) div {den}"),
            F.col(value_col),
        )
    )


def nearest_rank_percentiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    pcts: dict[str, tuple[int, int]],
) -> DataFrame:
    """Per-key nearest-rank percentiles (k = ceil(p*n)) in PURE integer
    arithmetic — the cross-engine-safe percentile.

    ``pcts`` maps output column name -> (p_num, p_den), e.g.
    ``{"p01": (1, 100), "p99": (99, 100)}``. Returns one row per key
    group with the percentile VALUES (actual data values, never
    interpolated).

    Why this exists: interpolated percentiles (Spark ``percentile``,
    DuckDB ``quantile_cont``) pick engine-defined interpolation
    neighbors under heavy value duplication — a one-cent p99
    divergence surfaced at the synthetic sf1 differential. Nearest
    rank over a cumulative-frequency walk is exact, deterministic,
    and runs over |distinct values| rows per key, not N.

    Scale: one shuffle on (keys, value) for the frequency aggregate,
    one per-key window over the distinct-value grid, one final
    aggregate — every stage bounded by grid cardinality.
    """
    freqs = df.groupBy(*keys, value_col).agg(F.count("*").alias("__f"))
    return _nearest_rank_walk(freqs, keys, value_col).groupBy(*keys).agg(
        *(
            _nearest_rank_cut(value_col, num, den).alias(name)
            for name, (num, den) in pcts.items()
        )
    )


def nearest_rank_cuts(
    grid: DataFrame,
    keys: list[str],
    value_col: str,
    pcts: dict[str, tuple[int, int]],
) -> DataFrame:
    """The window form of :func:`nearest_rank_percentiles`: ``grid``
    holds one row per (keys, value) with its frequency in ``__f``;
    returns every grid row plus, per ``pcts`` entry, its key's
    percentile as a column — for results that depend only on (keys,
    value), with no aggregate + join-back diamond.

    Scale: the walk and the cuts chain on one exchange of the grid by
    keys (``keys=[]`` is one task: use it for value-bounded grids).
    """
    w_key = W.partitionBy(*keys)
    return _nearest_rank_walk(grid, keys, value_col).select(
        *grid.columns,
        *(
            _nearest_rank_cut(value_col, num, den).over(w_key).alias(name)
            for name, (num, den) in pcts.items()
        ),
    )


def interpolated_percentiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    pcts: dict[str, float],
) -> DataFrame:
    """Per-key EXACT interpolated percentiles over the cumulative-
    frequency grid — bit-identical to Spark's ``percentile()`` but
    without its per-group value buffer (which holds every distinct
    value of a group in one aggregation buffer: the memory-bound shape
    at 100 TB; r15 optimization of agg_approx_percentile_prices).

    Replicates Percentile.getPercentile exactly: position =
    p * (n - 1) in doubles (nulls excluded from n), lower/higher are
    the data values at 1-indexed ranks floor(position)+1 /
    ceil(position)+1 from the cumulative-frequency walk, result =
    lower + (position - floor(position)) * (higher - lower) in
    doubles — every arithmetic step the same IEEE operation on the
    same operands, so results hash-match the builtin (pinned by
    tests/test_relational_ops.py).

    Scale: one shuffle on (keys, value) for the frequency aggregate,
    then the cumulative walk as a PARTITION-PARALLEL two-phase grouped
    prefix sum (r16, VERDICT r15 #6: the r15 shape ran each key's grid
    walk — and its per-key total — as one Window.partitionBy(keys)
    task, serializing on the largest group's grid; the hot caller's
    grid is ~97%-distinct prices, i.e. grid ≈ N — a data-scaled single
    task. grouped_running_sum buckets the VALUE axis so one group's
    grid spreads across every partition, and total_col rides the same
    offset join). pin_input=True: the freqs aggregate is the expensive
    corpus pass — the pin guarantees it runs ONCE (the two-phase
    branches would otherwise re-derive it up to 3x). Counts are int64,
    so __cum/__total are bit-identical to the serialized windows' —
    the builtin-percentile parity pin still holds. Honest local cost:
    interleaved operator A/B at sf0.1 reads 1.8 → 2.3s
    (scripts/r16_ab5_interp.json) — the pin write + offset join on a
    600k-row grid lose to three 200k-row single-task window sorts at
    this scale; the serialized shape is the one that CANNOT finish at
    100 TB. nearest_rank_percentiles keeps the serialized walk: its
    callers' grids are value-domain-bounded (cents, day counts), never
    data-scaled.
    """
    freqs = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count("*").alias("__f"))
    )
    ranked = grouped_running_sum(
        freqs,
        "__f",
        list(keys),
        [value_col],
        out_col="__cum",
        total_col="__total",
        pin_input=True,
    ).select(*keys, value_col, "__cum", "__total")
    # position/rank expressions are PER-ROW (``__total`` is constant
    # within a key group), so the rank probes are plain conditional
    # mins; the interpolation arithmetic re-derives position from the
    # aggregated n in the post-select.
    aggs = [F.max("__total").alias("__n")]
    for name, p in pcts.items():
        pos = F.lit(float(p)) * (F.col("__total") - 1).cast("double")
        v_lo = F.min(
            F.when(F.col("__cum") >= F.floor(pos) + 1, F.col(value_col))
        ).alias(f"__lo_{name}")
        v_hi = F.min(
            F.when(F.col("__cum") >= F.ceil(pos) + 1, F.col(value_col))
        ).alias(f"__hi_{name}")
        aggs.extend([v_lo, v_hi])
    grouped = ranked.groupBy(*keys).agg(*aggs)
    outs = []
    for name, p in pcts.items():
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        frac = pos - F.floor(pos).cast("double")
        outs.append(
            (
                F.col(f"__lo_{name}")
                + frac * (F.col(f"__hi_{name}") - F.col(f"__lo_{name}"))
            ).alias(name)
        )
    return grouped.select(*keys, *outs)


def skyline_2d(df: DataFrame, min_col: str, max_col: str) -> DataFrame:
    """2D Pareto skyline: rows not dominated under (minimize
    ``min_col``, maximize ``max_col``). A dominates B iff A.min <=
    B.min AND A.max >= B.max with at least one strict — equal points
    don't dominate each other, so exact duplicates all stay on the
    skyline (deterministic; use integer-grid columns).

    Distributed shape — never the quadratic NOT EXISTS self-join: one
    map-side-combined aggregate to the per-``max_col`` price grid
    (min of ``min_col`` at each level), a suffix-min walk over that
    grid (window over |distinct max_col| rows, grid-sized like the
    nearest-rank percentile walk — NOT over N), then one broadcast
    join back. A row survives iff it achieves the minimum at its own
    level (nothing at the same level strictly better) AND beats the
    best of all strictly-higher levels (nothing above dominates it).
    The oracle states the same contract as the direct NOT EXISTS
    dominance SQL, so the differential checks the reformulation, not
    a shared algorithm.
    """
    grid = df.groupBy(max_col).agg(F.min(min_col).alias("__mp"))
    w_suf = (
        W.orderBy(F.desc(max_col))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    walk = grid.select(
        max_col, "__mp", F.min("__mp").over(w_suf).alias("__suf")
    )
    return (
        df.join(F.broadcast(walk), max_col)
        .filter(
            (F.col(min_col) == F.col("__mp"))
            & (F.col("__suf").isNull() | (F.col(min_col) < F.col("__suf")))
        )
        .drop("__mp", "__suf")
    )
