"""Structured Streaming tests: hermetic file-source + availableNow runs.

Each test writes JSONL files, streams them with maxFilesPerTrigger=1
(forcing multiple micro-batches), and asserts on the memory sink — so
watermark semantics and cross-batch state are genuinely exercised.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from etl_ml_pipeline_spark.streaming import (
    read_json_stream,
    run_available_now,
    session_window_agg,
    sliding_window_agg,
    stateful_running_totals,
    tumbling_window_agg,
)

SCHEMA = "user_id bigint, ts timestamp, value double"


def _write_events(dir_path: Path, name: str, rows):
    dir_path.mkdir(parents=True, exist_ok=True)
    with open(dir_path / name, "w") as f:
        for user_id, ts, value in rows:
            f.write(json.dumps({"user_id": user_id, "ts": ts, "value": value}) + "\n")


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events_in"
    _write_events(
        d,
        "batch1.json",
        [
            (1, "2024-01-01 10:05:00", 1.0),
            (1, "2024-01-01 10:20:00", 2.0),
            (2, "2024-01-01 10:45:00", 3.0),
        ],
    )
    _write_events(
        d,
        "batch2.json",
        [
            (1, "2024-01-01 11:10:00", 4.0),
            (2, "2024-01-01 12:30:00", 5.0),
        ],
    )
    return d


def test_tumbling_window_counts(spark, events_dir, tmp_path):
    stream = read_json_stream(spark, str(events_dir), SCHEMA, max_files_per_trigger=1)
    agg = tumbling_window_agg(stream, window="1 hour", watermark="10 hours")
    run_available_now(agg, "tumble_out", str(tmp_path / "ckpt"), output_mode="complete")
    rows = {
        str(r["window_start"]): (r["n_events"], r["sum_value"])
        for r in spark.table("tumble_out").collect()
    }
    assert rows["2024-01-01 10:00:00"] == (3, 6.0)
    assert rows["2024-01-01 11:00:00"] == (1, 4.0)
    assert rows["2024-01-01 12:00:00"] == (1, 5.0)


def test_sliding_windows_overlap(spark, events_dir, tmp_path):
    stream = read_json_stream(spark, str(events_dir), SCHEMA)
    agg = sliding_window_agg(stream, window="1 hour", slide="30 minutes", watermark="10 hours")
    run_available_now(agg, "slide_out", str(tmp_path / "ckpt"), output_mode="complete")
    rows = {
        str(r["window_start"]): r["n_events"] for r in spark.table("slide_out").collect()
    }
    # 10:05 and 10:20 fall in both the 09:30 and 10:00 windows
    assert rows["2024-01-01 09:30:00"] == 2
    assert rows["2024-01-01 10:00:00"] == 3  # 10:05, 10:20, 10:45


def test_session_windows_gap(spark, events_dir, tmp_path):
    stream = read_json_stream(spark, str(events_dir), SCHEMA)
    agg = session_window_agg(stream, gap="30 minutes", watermark="10 hours")
    run_available_now(agg, "sess_out", str(tmp_path / "ckpt"), output_mode="complete")
    rows = sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.table("sess_out").collect()
    )
    # user 1: 10:05+10:20 chain (gap<30m) -> one session; 11:10 -> new session
    # user 2: 10:45 and 12:30 -> two sessions
    assert rows == [
        (1, "2024-01-01 10:05:00", 2),
        (1, "2024-01-01 11:10:00", 1),
        (2, "2024-01-01 10:45:00", 1),
        (2, "2024-01-01 12:30:00", 1),
    ]


def test_stateful_running_totals_across_batches(spark, events_dir, tmp_path):
    stream = read_json_stream(spark, str(events_dir), SCHEMA, max_files_per_trigger=1)
    out = stateful_running_totals(stream)
    run_available_now(out, "state_out", str(tmp_path / "ckpt"), output_mode="update")
    # memory sink in update mode appends each update; the LAST row per key
    # is the final state -> proves state carried across micro-batches
    pdf = spark.table("state_out").toPandas()
    final = {int(r.user_id): (int(r.n), float(r.total)) for r in pdf.itertuples()}
    assert final[1] == (3, 7.0)
    assert final[2] == (2, 8.0)
    # more output rows than keys => at least one key updated in >1 batch
    assert len(pdf) > 2


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Pins the engine's REAL late-data contract, which the
    stream_late_data_window_replay oracle replicates (round-11; the
    earlier version of this test claimed batch 2's straggler was
    ignored — it is not):

    * the late-record filter uses the PREVIOUS watermark — one batch of
      lag (max event time over batches <= b-2, minus delay) — so a
      straggler in batch 2 is still ACCEPTED (filter watermark is epoch
      0) even though batch 1 already advanced the current watermark
      past its window;
    * by batch 3 that watermark has been superseded and the same-age
      straggler IS dropped;
    * append mode emits only windows with end <= final watermark.
    If a Spark upgrade changes any of this, the replay oracles must be
    updated in lockstep — this test is the tripwire."""
    import os

    d = tmp_path / "late_in"
    _write_events(d, "b1.json", [(1, "2024-01-01 10:00:00", 1.0),
                                 (1, "2024-01-01 23:00:00", 1.0)])
    # 13h older than the max seen ts, but the FILTER watermark during
    # batch 2 is still epoch 0 -> accepted (lag-one contract)
    _write_events(d, "b2.json", [(1, "2024-01-01 09:59:00", 99.0)])
    # by batch 3 the filter watermark is max(b1) - 1h = 22:00 -> the
    # 11:30 straggler's window end (12:00) is behind it -> dropped
    _write_events(d, "b3.json", [(1, "2024-01-01 11:30:00", 50.0),
                                 (1, "2024-01-01 23:30:00", 2.0)])
    for i, name in enumerate(("b1.json", "b2.json", "b3.json"), 1):
        t = 1_700_000_000 + i * 10
        os.utime(d / name, (t, t))
    stream = read_json_stream(spark, str(d), SCHEMA, max_files_per_trigger=1)
    agg = tumbling_window_agg(stream, window="1 hour", watermark="1 hour")
    run_available_now(agg, "late_out", str(tmp_path / "ckpt"), output_mode="append")
    rows = {
        str(r["window_start"]): (r["n_events"], r["sum_value"])
        for r in spark.table("late_out").collect()
    }
    # batch-2 straggler accepted; batch-3 straggler dropped; the 23:00
    # and 23:30 windows end past the final watermark (22:30) -> unemitted
    assert rows == {
        "2024-01-01 09:00:00": (1, 99.0),
        "2024-01-01 10:00:00": (1, 1.0),
    }


def test_stream_upsert_materialized_view(spark, events_dir, tmp_path):
    """stateful running totals streamed into the SQL upsert sink: the
    table ends with exactly the latest per-key state (effectively-once)."""
    import sqlite3

    from etl_ml_pipeline_spark.streaming.windows import write_stream_upsert

    db = str(tmp_path / "totals.db")
    stream = read_json_stream(spark, str(events_dir), SCHEMA, max_files_per_trigger=1)
    out = stateful_running_totals(stream)
    q = write_stream_upsert(
        out,
        {
            "database": db,
            "table": "user_totals",
            "if_exists": "upsert",
            "primary_keys": ["user_id"],
        },
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    with sqlite3.connect(db) as conn:
        rows = dict(
            (uid, (n, total))
            for uid, n, total in conn.execute(
                "SELECT user_id, n, total FROM user_totals"
            )
        )
    assert rows == {1: (3, 7.0), 2: (2, 8.0)}  # exactly latest state per key


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys across micro-batches collapse to one row while the
    watermark holds their state; output carries the first-seen row."""
    d = tmp_path / "dedup_in"
    _write_events(
        d,
        "batch1.json",
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (1, "2024-01-01 10:01:00", 99.0),   # dup key within watermark
            (2, "2024-01-01 10:02:00", 2.0),
        ],
    )
    _write_events(
        d,
        "batch2.json",
        [
            (1, "2024-01-01 10:03:00", 98.0),   # still duplicate
            (3, "2024-01-01 10:04:00", 3.0),
        ],
    )
    from etl_ml_pipeline_spark.streaming.windows import stream_dedup

    stream = read_json_stream(spark, str(d), SCHEMA, max_files_per_trigger=1)
    deduped = stream_dedup(stream, keys=["user_id"], watermark="2 hours")
    run_available_now(deduped, "dedup_out", str(tmp_path / "ckpt"), output_mode="append")
    out = spark.table("dedup_out").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["value"])
    assert sorted(by_user) == [1, 2, 3]
    assert all(len(v) == 1 for v in by_user.values())
    assert by_user[2] == [2.0] and by_user[3] == [3.0]


def test_stream_cdc_current_view(spark, tmp_path):
    """CDC change stream -> maintained current view: later batches
    update and tombstone earlier keys; the registered view always shows
    latest-row-wins minus deletes."""
    import json

    from etl_ml_pipeline_spark.streaming.windows import (
        read_json_stream,
        write_stream_cdc_view,
    )

    d = tmp_path / "cdc_in"
    d.mkdir()
    b1 = [
        {"k": 1, "version": 1, "deleted": False, "payload": "a"},
        {"k": 2, "version": 1, "deleted": False, "payload": "b"},
    ]
    b2 = [
        {"k": 1, "version": 2, "deleted": False, "payload": "a2"},
        {"k": 2, "version": 2, "deleted": True, "payload": "dead"},
        {"k": 3, "version": 1, "deleted": False, "payload": "c"},
    ]
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (d / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))

    schema = "k int, version int, deleted boolean, payload string"
    stream = read_json_stream(spark, str(d), schema, max_files_per_trigger=1)
    q = write_stream_cdc_view(
        stream, ["k"], "version", "deleted", "cdc_view", str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {
        r.k: (r.version, r.payload)
        for r in spark.table("global_temp.cdc_view").collect()
    }
    assert got == {1: (2, "a2"), 3: (1, "c")}


def test_stream_dedup_against_persistent_index(spark, tmp_path):
    """New documents dedup against the EXISTING corpus via its signature
    index (no corpus recompute): batch-1 near-dup of an indexed doc is
    flagged; batch-1's unique doc joins the index and catches its own
    exact dup arriving in batch 2."""
    from pyspark.sql import Row

    from etl_ml_pipeline_spark.streaming.dedup_index import (
        build_minhash_index,
        stream_dedup_against_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    other = "completely different words about spark catalyst optimizer plans and shuffles"
    novel = "fresh unique sentence with plenty of surprising tokens inside it today"
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=other)]
    )
    index_path = str(tmp_path / "sig_index")
    build_minhash_index(corpus, index_path)

    import json

    d = tmp_path / "docs_in"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 10, "text": base + " today"},  # near-dup of 1
                {"doc_id": 11, "text": novel},            # unique
            ]
        )
    )
    (d / "b2.json").write_text(
        json.dumps({"doc_id": 12, "text": novel})  # exact dup of 11 (batch 1)
    )

    from etl_ml_pipeline_spark.streaming.windows import read_json_stream

    stream = read_json_stream(
        spark, str(d), "doc_id long, text string", max_files_per_trigger=1
    )
    q = stream_dedup_against_index(
        stream, index_path, str(tmp_path / "ckpt"), "idx_verdicts"
    )
    q.awaitTermination()

    verdicts = {
        r.doc_id: r.dup_of
        for r in spark.table("global_temp.idx_verdicts").collect()
    }
    assert verdicts == {10: 1, 12: 11}
    # index grew by exactly the unique survivor
    idx_ids = sorted(
        r.id for r in spark.read.parquet(index_path).select("id").collect()
    )
    assert idx_ids == [1, 2, 11]


def test_index_compaction_preserves_verdicts(spark, tmp_path):
    """VERDICT r08 ask #4: compacting the fragmented signature index
    must change file layout only — the next batch's dedup verdicts are
    identical — and id retention actually forgets: a near-dup of an
    aged-out document is no longer flagged."""
    import json

    from pyspark.sql import Row

    from etl_ml_pipeline_spark.streaming.dedup_index import (
        build_minhash_index,
        compact_minhash_index,
        stream_dedup_against_index,
    )
    from etl_ml_pipeline_spark.streaming.windows import read_json_stream

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    other = "completely different words about spark catalyst optimizer plans and shuffles"
    novel = "fresh unique sentence with plenty of surprising tokens inside it today"
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=other)]
    )
    index_path = str(tmp_path / "sig_index")
    build_minhash_index(corpus, index_path)

    def run_batch(docs: list[dict], tag: str) -> dict:
        d = tmp_path / f"docs_{tag}"
        d.mkdir()
        (d / "b.json").write_text("\n".join(json.dumps(r) for r in docs))
        stream = read_json_stream(
            spark, str(d), "doc_id long, text string", max_files_per_trigger=1
        )
        q = stream_dedup_against_index(
            stream, index_path, str(tmp_path / f"ckpt_{tag}"), f"v_{tag}"
        )
        q.awaitTermination()
        return {
            r.doc_id: r.dup_of
            for r in spark.table(f"global_temp.v_{tag}").collect()
        }

    # batch 1 appends survivor signatures -> index now fragmented
    assert run_batch(
        [{"doc_id": 10, "text": base + " today"}, {"doc_id": 11, "text": novel}],
        "one",
    ) == {10: 1}
    frag_files = len(spark.read.parquet(index_path).inputFiles())
    ids_before = sorted(
        r.id for r in spark.read.parquet(index_path).select("id").collect()
    )
    assert ids_before == [1, 2, 11]

    stats = compact_minhash_index(spark, index_path)
    assert stats["files_before"] == frag_files
    assert stats["files_after"] <= stats["files_before"]
    assert stats["rows_after"] == stats["rows_before"] == 3
    assert sorted(
        r.id for r in spark.read.parquet(index_path).select("id").collect()
    ) == ids_before
    # no leftover swap directories
    import os

    assert not os.path.exists(index_path + ".__compact_tmp")
    assert not os.path.exists(index_path + ".__compact_bak")

    # next batch's verdicts are exactly what the uncompacted index gave
    # (dup of batch-1 survivor 11; near-dup of indexed doc 1)
    assert run_batch(
        [{"doc_id": 12, "text": novel}, {"doc_id": 13, "text": base + " now"}],
        "two",
    ) == {12: 11, 13: 1}

    # retention: age out the original corpus (ids < 10); only the
    # batch-1 survivor 11 remains (10/12/13 were dups, never indexed);
    # a fresh near-dup of doc 1 is no longer flagged and joins the index
    stats = compact_minhash_index(spark, index_path, retain_min_id=10)
    assert sorted(
        r.id for r in spark.read.parquet(index_path).select("id").collect()
    ) == [11]
    assert run_batch([{"doc_id": 20, "text": base + " then"}], "three") == {}
    assert 20 in {
        r.id for r in spark.read.parquet(index_path).select("id").collect()
    }


def test_compaction_crash_window_auto_restores(spark, tmp_path):
    """ADVICE r09 #1: a death between rename(live->bak) and
    rename(tmp->live) leaves no live index. Entry (both compaction and
    the streaming fold path) must auto-restore from the backup instead
    of failing every subsequent read."""
    import os
    import shutil

    from pyspark.sql import Row

    from etl_ml_pipeline_spark.streaming.dedup_index import (
        build_minhash_index,
        compact_minhash_index,
        restore_interrupted_compaction,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} with words {i * 7}") for i in range(6)]
    )
    index_path = str(tmp_path / "sig_index")
    build_minhash_index(corpus, index_path)
    before = sorted(r.id for r in spark.read.parquet(index_path).collect())

    # simulate the mid-swap crash: live renamed to bak, tmp half-written
    shutil.move(index_path, index_path + ".__compact_bak")
    os.makedirs(index_path + ".__compact_tmp")
    assert restore_interrupted_compaction(spark, index_path) is True
    assert sorted(r.id for r in spark.read.parquet(index_path).collect()) == before
    assert not os.path.exists(index_path + ".__compact_bak")
    assert not os.path.exists(index_path + ".__compact_tmp")
    # idempotent when healthy
    assert restore_interrupted_compaction(spark, index_path) is False

    # compaction itself self-heals on entry from the same crash state
    shutil.move(index_path, index_path + ".__compact_bak")
    stats = compact_minhash_index(spark, index_path)
    assert stats["rows_after"] == len(before)


def test_compaction_retention_sizes_output_by_kept_bytes(spark, tmp_path):
    """ADVICE r09 #2: output file count must follow the KEPT bytes, not
    the pre-retention input bytes — a retention pass that drops ~97% of
    rows compacts to 1 file even when the input spanned many."""
    from pyspark.sql import Row

    from etl_ml_pipeline_spark.streaming.dedup_index import (
        build_minhash_index,
        compact_minhash_index,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"document {i} body {' '.join(str(i * j) for j in range(30))}") for i in range(64)]
    )
    index_path = str(tmp_path / "sig_index")
    build_minhash_index(corpus, index_path)
    # fragment the index the way per-batch appends do in production
    frag = spark.read.parquet(index_path).repartition(32).localCheckpoint(eager=True)
    frag.write.mode("overwrite").parquet(index_path)
    nfiles = len(spark.read.parquet(index_path).inputFiles())
    assert nfiles >= 16  # genuinely fragmented input
    # target sized so that ceil(full_bytes/target) > 1 but the ~2-row
    # kept fraction fits one file: pre-fix this wrote >=nfiles-ish files
    import math

    from etl_ml_pipeline_spark.operators.layout import input_bytes

    full = input_bytes(spark.read.parquet(index_path))
    target = max(1, math.ceil(full / 8))  # full input would want 8 files
    stats = compact_minhash_index(
        spark, index_path, target_file_bytes=target, retain_min_id=62
    )
    assert stats["rows_after"] == 2
    assert stats["files_after"] == 1


def test_cusum_cents_rounding_matches_spark_half_up(spark):
    """The stream-side cents derivation must tie-break exactly like the
    batch twin's F.round (HALF_UP, away from zero): .125 -> 13 cents,
    -.125 -> -13, where pandas .round() gives 12/-12 (ADVICE r05)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.streaming.windows import _cents_half_up

    vals = [0.125, -0.125, 0.115, 2.005, -2.005, 1.0, 0.0, 3.333]
    got = _cents_half_up(pd.Series(vals)).tolist()
    want = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in vals], "value double")
        .select(F.round(F.col("value") * 100, 0).cast("long"))
        .collect()
    ]
    assert got == want


def _write_stamped(dir_path: Path, name: str, rows, order: int):
    """Write a batch file with a DETERMINISTIC mtime: the file source
    orders files by modification time, and same-millisecond writes make
    trigger order nondeterministic (observed: b3 before b1)."""
    import os

    _write_events(dir_path, name, rows)
    t = 1_700_000_000 + order * 10
    os.utime(dir_path / name, (t, t))


def test_stateful_ttl_eviction_across_triggers(spark, tmp_path):
    """4 triggers, late data past the watermark, state EVICTION
    asserted (VERDICT r06 ask #6): a key silent past its TTL by the
    watermark clock emits an evicted=true tombstone and restarts from
    zero on its next event, and a late row is dropped, not folded —
    single-batch replays cannot catch timeout/eviction bugs."""
    from etl_ml_pipeline_spark.streaming import stateful_running_totals_ttl

    d = tmp_path / "ttl_in"
    _write_stamped(d, "b1.json", [(1, "2024-01-01 10:00:00", 1.0),
                                  (2, "2024-01-01 10:00:00", 10.0)], 1)
    _write_stamped(d, "b2.json", [(1, "2024-01-01 12:00:00", 2.0)], 2)
    _write_stamped(d, "b3.json", [(1, "2024-01-01 12:30:00", 4.0)], 3)
    # b4: key2 returns after eviction; key1 sends a row 2h older than
    # the watermark (12:30 - 1h = 11:30) that must be ignored
    _write_stamped(d, "b4.json", [(2, "2024-01-01 12:40:00", 20.0),
                                  (1, "2024-01-01 10:30:00", 99.0)], 4)
    stream = read_json_stream(spark, str(d), SCHEMA, max_files_per_trigger=1)
    out = stateful_running_totals_ttl(
        stream.withWatermark("ts", "1 hour"), ttl_minutes=30
    )
    run_available_now(out, "ttl_out", str(tmp_path / "ckpt"), output_mode="update")
    rows = [
        (int(r.user_id), int(r.n), float(r.total), bool(r.evicted))
        for r in spark.table("ttl_out").collect()
    ]
    assert rows == [
        (2, 1, 10.0, False),  # b1
        (1, 1, 1.0, False),   # b1
        (1, 2, 3.0, False),   # b2 (watermark 09:00 — key2 TTL not passed)
        (2, 1, 10.0, True),   # b3: watermark 11:00 > 10:30 — key2 EVICTED
        (1, 3, 7.0, False),   # b3
        (2, 1, 20.0, False),  # b4: key2 restarted from ZERO (state gone)
        # and key1's late 10:30/99.0 row emitted nothing: dropped
    ]


def test_stateful_topk_across_triggers(spark, tmp_path):
    """Per-key top-k leaderboard evolves across 3 micro-batches: a
    trailing member overtakes the leader in batch 3, and every trigger
    re-emits a full rank-1..k snapshot for the updated key."""
    from etl_ml_pipeline_spark.streaming import stateful_topk

    d = tmp_path / "topk_in"
    _write_stamped(d, "b1.json", [(101, "2024-01-01 10:00:00", 5.0),
                                  (102, "2024-01-01 10:01:00", 3.0)], 1)
    _write_stamped(d, "b2.json", [(103, "2024-01-01 11:00:00", 4.0)], 2)
    _write_stamped(d, "b3.json", [(102, "2024-01-01 12:00:00", 9.0)], 3)
    stream = read_json_stream(spark, str(d), SCHEMA, max_files_per_trigger=1)
    # single logical key: constant event_type column
    from pyspark.sql import functions as F

    out = stateful_topk(
        stream.withColumn("event_type", F.lit("purchase")),
        key_col="event_type", member_col="user_id", value_col="value", k=2,
    )
    run_available_now(out, "topk_out", str(tmp_path / "ckpt"), output_mode="update")
    boards = [
        (int(r.rank), int(r.user_id), int(r.total_cents))
        for r in spark.table("topk_out").collect()
    ]
    assert boards == [
        (1, 101, 500), (2, 102, 300),          # b1
        (1, 101, 500), (2, 103, 400),          # b2: 103 displaces 102
        (1, 102, 1200), (2, 101, 500),         # b3: 102 overtakes (3+9)
    ]


def test_transform_with_state_port(spark, tmp_path):
    """The transformWithStateInPandas port of the running-totals kernel
    (streaming/tws.py). google.protobuf is absent in this container, so
    by default this pins the GATE contract (clear ImportError naming
    the exercised fallback); when the dependency is present the full
    3-batch replay runs and must match stateful_running_totals'
    arithmetic."""
    from etl_ml_pipeline_spark.streaming.tws import (
        tws_available,
        tws_running_totals,
    )

    rows_b1 = [(1, 100), (1, 50), (2, 10)]
    rows_b2 = [(1, 25), (3, 7)]

    if not tws_available():
        import pytest

        df = spark.createDataFrame(rows_b1, "user_id long, cents long")
        with pytest.raises(ImportError, match="applyInPandasWithState"):
            tws_running_totals(df)
        return

    import uuid

    from pyspark.sql import SparkSession

    tws_spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .getOrCreate()
    )
    d = tmp_path / "tws_in"
    d.mkdir()
    for i, rows in enumerate((rows_b1, rows_b2), 1):
        df = tws_spark.createDataFrame(rows, "user_id long, cents long")
        tmp = str(tmp_path / f"_t{i}")
        df.coalesce(1).write.parquet(tmp)
        import glob as _glob
        import os
        import shutil

        (p,) = _glob.glob(f"{tmp}/part-*.parquet")
        shutil.move(p, str(d / f"b{i}.parquet"))
        shutil.rmtree(tmp)
        os.utime(d / f"b{i}.parquet", (1_700_000_000 + i * 10,) * 2)
    stream = (
        tws_spark.readStream.schema("user_id long, cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = tws_running_totals(stream)
    name = f"tws_{uuid.uuid4().hex}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    pdf = tws_spark.table(name).toPandas()
    final = {
        int(r.user_id): (int(r.n), int(r.total_cents))
        for r in pdf.itertuples()
    }
    assert final == {1: (3, 175), 2: (1, 10), 3: (1, 7)}


def test_replay_invariant_to_state_partitions(spark, tmp_path, monkeypatch):
    """The replay harness sizes streaming state partitions from the
    bounded input (r15 optimization: state partitioning is fixed at
    query start, so tiny replays must not pay 32 partitions of
    per-trigger state-store overhead). Partition count must never
    change results: run the same stateful replay at the derived count
    and at an explicitly pinned count and compare rows."""
    from etl_ml_pipeline_spark.queries import timeseries
    from etl_ml_pipeline_spark.queries.timeseries import (
        _stream_state_partitions,
        stream_tumble_replay,
    )

    sf_dir = "/root/testdata/sf0.001"
    base = stream_tumble_replay(spark, sf_dir).toPandas()
    monkeypatch.setattr(timeseries, "_stream_state_partitions", lambda *a: 7)
    pinned = stream_tumble_replay(spark, sf_dir).toPandas()
    assert base.equals(pinned)
    # sizing formula: derived from bytes, clamped to [1, session parts]
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _stream_state_partitions(spark, 1) == 1
    assert _stream_state_partitions(spark, 1 << 50) == cur
