"""Streaming windowed aggregation + custom stateful operators.

The reference is batch-only (SURVEY.md §2.6: "no streaming"); this
module is the extension SURVEY.md §7.3 step 7 plans: the engine's
sessionization/tumbling-window semantics (queries/timeseries.py) made
incremental via Structured Streaming, so the same pipeline runs over a
directory that keeps receiving files, a Kafka topic, etc.

Design notes (Spark-first):

- All aggregations use event-time ``window()`` / ``session_window()``
  with a watermark, so state is bounded and late data beyond the
  watermark is dropped — the standard Spark late-data story.
- ``stateful_running_totals`` demonstrates the custom-stateful-operator
  path (``applyInPandasWithState``): per-key running count/sum carried
  across micro-batches — the streaming analog of the engine's
  incremental cursor.
- Tests drive everything with the file source + ``availableNow`` +
  ``maxFilesPerTrigger=1`` so multi-micro-batch state transitions are
  exercised hermetically (no network, no Kafka dependency).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_json_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (JSONL). Schema is mandatory for streams."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Iterable[str] = (),
) -> DataFrame:
    """Tumbling event-time counts/sums; batch analog: tumble_hourly_events."""
    keys = [F.window(ts_col, window).alias("win"), *group_cols]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Overlapping windows — each event lands in window/slide buckets."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
        )
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessions (session_window) — streaming analog of the
    batch sessionize_events query (lag+cumsum formulation)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


_STATE_SCHEMA = "n bigint, total double"
_OUT_SCHEMA = "user_id bigint, n bigint, total double"


def stream_dedup(
    df: DataFrame,
    keys: Iterable[str] = ("user_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    key state once the watermark passes — the streaming analog of the
    batch ``dedup_exact`` operator, and the only way dedup state stays
    bounded on an infinite stream (a plain ``dropDuplicates`` on a
    stream accumulates keys forever). For content dedup, pass a
    fingerprint column (``operators.text.fingerprint``) as the key so
    state stores 128-bit hashes, not documents.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stateful_running_totals(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running count/sum across micro-batches.

    Custom stateful operator via ``applyInPandasWithState`` — state
    (n, total) survives between triggers, the streaming analog of an
    incremental cursor. Output mode must be 'update'.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [round(total, 4)]})

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_running_totals_ttl(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    ttl_minutes: int = 30,
) -> DataFrame:
    """Running totals with EVENT-TIME STATE EVICTION: a key silent for
    ``ttl_minutes`` past its last event (by the watermark clock) is
    evicted — the timeout trigger emits a final tombstone row
    (``evicted = true``) and removes the state, so a later event for
    the same key restarts from zero. The input MUST carry a watermark
    on ``ts_col`` (``df.withWatermark(ts_col, ...)``); Spark requires
    one for ``EventTimeTimeout``.

    Late rows: Spark does NOT pre-filter rows older than the watermark
    for applyInPandasWithState (verified on 4.1 — a late row reaches
    the update function), so the fold drops them explicitly against
    ``getCurrentWatermarkMs()``; without that, a late row could also
    compute a timeout timestamp behind the watermark, which Spark
    rejects as INVALID_TIMEOUT_TIMESTAMP. The timeout is additionally
    clamped to watermark+1 for exactly that reason.

    This is the bounded-state variant of :func:`stateful_running_totals`
    — at open-ended key cardinality (users come and go forever) the
    NoTimeout version's state grows without bound; TTL eviction keeps
    state proportional to the ACTIVE key set, which is what a 100 TB
    stream needs. Emits (key, n, total, evicted) in update mode.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = df.schema[key_col].dataType.simpleString()
    ttl_ms = ttl_minutes * 60_000

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            n, cents = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n": [n],
                    "total": [cents / 100.0],
                    "evicted": [True],
                }
            )
            return
        wm_ms = state.getCurrentWatermarkMs()
        n, cents = state.get if state.exists else (0, 0)
        last_ms = 0
        fresh = 0
        for pdf in pdfs:
            ms = pdf[ts_col].astype("int64") // 1_000_000
            ontime = (ms >= wm_ms).to_numpy()  # drop late rows (docstring)
            keep = pdf[ontime]
            if len(keep) == 0:
                continue
            fresh += len(keep)
            n += len(keep)
            # exact integer cents (HALF_UP like the batch twin) — the
            # cross-batch accumulation must be order-free so the replay
            # oracle can re-derive it with SQL sums
            cents += int(_cents_half_up(keep["value"]).sum())
            last_ms = max(last_ms, int(ms[ontime].max()))
        if fresh == 0:
            # all rows were late: emit nothing, leave state (and its
            # previously-armed timeout) untouched
            return
        state.update((n, cents))
        state.setTimeoutTimestamp(max(last_ms + ttl_ms, wm_ms + 1))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n": [n],
                "total": [cents / 100.0],
                "evicted": [False],
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} {key_type}, n bigint, total double, "
        "evicted boolean",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stateful_topk(
    df: DataFrame,
    key_col: str = "event_type",
    member_col: str = "user_id",
    value_col: str = "value",
    k: int = 5,
) -> DataFrame:
    """Streaming per-key top-k leaderboard: per ``key_col``, the ``k``
    members with the highest cumulative ``value_col`` (exact integer
    cents; ties break to the lower member id), re-emitted each trigger
    in UPDATE mode.

    State is the full member->cents map per key — exact, the right
    call while |members per key| stays bounded (dashboards over
    product areas, tenants, shards). At open-world cardinality swap
    the state for a SpaceSaving/Misra-Gries summary (the CMS/heavy-
    hitter sketch family in queries/text_q.py is the batch shape); the
    emit contract (k rows per key, rank by total desc, id asc) stays
    the same, which is what the replay oracle pins.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # Derive key/member field types from the input schema instead of
    # hardcoding "string"/"bigint" — the state fold coerces members
    # with int(), so the member column must be integral; reject
    # anything else loudly at plan time, not as a runtime corruption
    # deep inside a micro-batch (ADVICE r06).
    key_type = df.schema[key_col].dataType.simpleString()
    member_type = df.schema[member_col].dataType.simpleString()
    if member_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"stateful_topk requires an integral member column; "
            f"{member_col!r} is {member_type}"
        )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        totals: dict[int, int] = (
            dict(zip(*state.get)) if state.exists else {}
        )
        for pdf in pdfs:
            cents = _cents_half_up(pdf[value_col])
            for m, c in zip(pdf[member_col], cents):
                m = int(m)
                totals[m] = totals.get(m, 0) + int(c)
        state.update((list(totals.keys()), [int(v) for v in totals.values()]))
        top = sorted(totals.items(), key=lambda mc: (-mc[1], mc[0]))[:k]
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(top),
                "rank": [i + 1 for i in range(len(top))],
                member_col: [m for m, _ in top],
                "total_cents": [c for _, c in top],
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} {key_type}, rank int, "
        f"{member_col} {member_type}, total_cents bigint",
        stateStructType="members array<bigint>, cents array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _cents_half_up(values) -> "object":
    """value -> integer cents with HALF_UP (away-from-zero) ties,
    matching Spark ``F.round(x*100, 0)`` and DuckDB ``round`` in the
    batch twin (changepoint_cusum_events) and the shared _CUSUM_SQL
    oracle. pandas ``Series.round()`` is banker's half-even and
    diverges by one cent on exact .5 products (ADVICE r05)."""
    import numpy as np

    v = np.asarray(values, dtype="float64") * 100
    return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64")


def stateful_cusum(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    base_days: int = 10,
    slack_div: int = 20,
    alarm_x: int = 3,
) -> DataFrame:
    """Streaming one-sided CUSUM change-point monitor per key.

    State is the per-key day -> cents map (bounded by |days|, never
    |events|); each trigger folds the batch's rows into it and re-runs
    the integer recursion s_t = max(0, s_{t-1} + y_t*base - mu_num -
    mu_num // slack_div) over the (calendar-bounded) day series,
    emitting the monitor table in 'update' mode. All arithmetic is
    exact integers — identical to the batch changepoint_cusum_events
    math, so a bounded replay reproduces the batch result row-for-row.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        days: dict[str, int] = (
            dict(zip(*state.get)) if state.exists else {}
        )
        for pdf in pdfs:
            cents = _cents_half_up(pdf[value_col])
            for day, c in zip(
                pdf[ts_col].dt.strftime("%Y-%m-%d"), cents
            ):
                days[day] = days.get(day, 0) + int(c)
        state.update((list(days.keys()), [int(v) for v in days.values()]))
        ordered = sorted(days.items())
        rows = []
        if len(ordered) > base_days:
            mu_num = sum(c for _, c in ordered[:base_days])
            slack = mu_num // slack_div
            s = 0
            for day, y in ordered[base_days:]:
                s = max(0, s + y * base_days - mu_num - slack)
                rows.append(
                    {
                        key_col: key[0],
                        "day": day,
                        "y": y,
                        "s": s,
                        "alarm": s > alarm_x * mu_num,
                    }
                )
        yield pd.DataFrame(rows, columns=[key_col, "day", "y", "s", "alarm"])

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} string, day string, y bigint, s bigint, "
        "alarm boolean",
        stateStructType="days array<string>, cents array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Process everything currently available, then stop (hermetic runs).

    Writes to an in-memory table named ``query_name``; the same plan
    pointed at a real sink (``.format("parquet")``, Kafka, foreachBatch
    upsert into the sql_database sink) is the production path.
    """
    query = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def write_stream_upsert(
    stream_df: DataFrame,
    sink_config: dict,
    checkpoint_dir: str,
    output_mode: str = "update",
):
    """Stream into the SQL upsert sink via foreachBatch.

    Each micro-batch runs one batched ON CONFLICT upsert (see
    sinks/sql_database.py), so the destination table always holds the
    latest value per primary key — the streaming materialized-view
    pattern. foreachBatch + idempotent upsert gives effectively-once
    semantics across restarts (a replayed batch overwrites itself).

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from etl_ml_pipeline_spark.sinks.sql_database import SqlDatabaseSink

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        with SqlDatabaseSink(batch_df.sparkSession, sink_config) as sink:
            sink.load(batch_df)

    return (
        stream_df.writeStream.foreachBatch(upsert_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_stream_cdc_view(
    stream_df: DataFrame,
    keys: list[str],
    version_col: str,
    delete_col: str,
    view_name: str,
    checkpoint_dir: str,
):
    """Maintain a merge-on-read CURRENT VIEW from a CDC change stream:
    every micro-batch folds into the accumulated snapshot via
    cdc_latest_view (latest version per key wins, tombstones drop), and
    the snapshot is re-registered as a temp view — the streaming
    equivalent of a lakehouse table's snapshot read, with the same
    batch operator doing the merge (one code path for both worlds).

    The snapshot is eagerly localCheckpoint-ed per batch so its lineage
    doesn't grow with stream length (at production scale: write the
    snapshot to a transactional table — Delta MERGE — instead of
    keeping it session-side; the fold logic is identical).

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import cdc_latest_view

    cols = list(stream_df.columns)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch runs under a CLONED session per micro-batch, so
        # the snapshot lives in the GLOBAL temp catalog (shared across
        # sessions of one SparkContext): each fold reads its base from
        # there and the driver session reads the result from there too.
        spark = batch_df.sparkSession
        if spark.catalog.tableExists(f"global_temp.{view_name}"):
            base = spark.table(f"global_temp.{view_name}")
        else:
            base = spark.createDataFrame([], batch_df.schema)
        view = cdc_latest_view(base, batch_df, keys, version_col, delete_col)
        # the view drops the tombstone flag; restore schema/order so the
        # snapshot can be the next batch's base (a surviving row is, by
        # definition, not deleted)
        snap = (
            view.withColumn(delete_col, F.lit(False))
            .select(*cols)
            .localCheckpoint(eager=True)
        )
        snap.createOrReplaceGlobalTempView(view_name)

    return (
        stream_df.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
