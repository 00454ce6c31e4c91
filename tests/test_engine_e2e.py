"""End-to-end pipeline engine tests (config -> extract -> transform -> load)."""

from __future__ import annotations

import json
import math
import sqlite3
from datetime import datetime, timedelta
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import yaml

from etl_ml_pipeline_spark.config import PipelineConfig, load_config
from etl_ml_pipeline_spark.engine import PipelineEngine
from etl_ml_pipeline_spark.registry import list_registered
from etl_ml_pipeline_spark.sources.base import BaseSource
from etl_ml_pipeline_spark.sources.files import ParquetSource
from etl_ml_pipeline_spark.state import StateManager


def _write_config(tmp_path, cfg: dict) -> str:
    p = tmp_path / "pipeline.yaml"
    p.write_text(yaml.safe_dump(cfg))
    return str(p)


def test_parquet_to_parquet_pipeline(tmp_path, spark, sf_dir):
    out = tmp_path / "out"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "copy_region",
            "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/region.parquet"}},
            "transform": [{"type": "pass_through"}],
            "load": {"type": "parquet", "config": {"path": str(out)}},
        },
    }
    engine = PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(tmp_path / "state.json")
    )
    engine.run()
    result = spark.read.parquet(str(out))
    assert result.count() == 5
    assert set(result.columns) == {"r_regionkey", "r_name"}


def test_single_file_json_sink(tmp_path, spark, sf_dir):
    out = tmp_path / "regions.json"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "region_json",
            "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/region.parquet"}},
            "load": {
                "type": "json_local",
                "config": {"path": str(out), "single_file": True},
            },
        },
    }
    PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(tmp_path / "state.json")
    ).run()
    data = json.loads(out.read_text())
    assert len(data) == 5
    assert {"r_regionkey", "r_name"} <= set(data[0])


def test_incremental_cursor_commit_after_load(tmp_path, spark, sf_dir):
    """Cursor = post-extract max, saved only after successful load
    (reference engine.py:94-128 semantics)."""
    state_path = tmp_path / "state.json"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "inc_orders",
            "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/orders.parquet"}},
            "load": {"type": "parquet", "config": {"path": str(tmp_path / "out")}},
            "incremental": {"cursor_field": "o_orderkey", "initial_value": -1},
        },
    }
    engine = PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(state_path)
    )
    df = engine.run()
    n_total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert df.count() == n_total
    saved = json.loads(state_path.read_text())
    assert saved["inc_orders"] == n_total - 1  # orderkeys are 0..n-1

    # Second run: cursor filter excludes everything
    df2 = engine.run()
    assert df2.count() == 0


def test_incremental_cursor_not_saved_on_load_failure(tmp_path, spark, sf_dir):
    state_path = tmp_path / "state.json"
    blocker = tmp_path / "blocked"
    blocker.write_text("i am a file, not a directory")
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "inc_fail",
            "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/region.parquet"}},
            "load": {
                "type": "json_local",
                "config": {"path": str(blocker / "sub" / "out.json"), "single_file": True},
            },
            "incremental": {"cursor_field": "r_regionkey", "initial_value": -1},
        },
        "settings": {"retry": {"max_attempts": 1, "backoff_seconds": 0}},
    }
    engine = PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(state_path)
    )
    with pytest.raises(Exception):
        engine.run()
    assert not state_path.exists() or "inc_fail" not in json.loads(state_path.read_text())

    # After a committed run, a failed load saves neither the new cursor
    # nor the new schema pin: the state file is left byte-identical.
    landing = tmp_path / "landing"
    landing.mkdir()

    def engine_to(out):
        inline = {
            "pipeline": {
                "extract": {"config": {"path": str(landing)}},
                "load": {"config": {"path": str(out)}},
                "incremental": {"cursor_field": "seq", "initial_value": 0},
            }
        }
        return PipelineEngine(
            _write_config(tmp_path, cfg), spark=spark, inline_config=inline,
            state_path=str(state_path),
        )

    pq.write_table(pa.table({"k": [1, 2], "seq": [1, 1]}), landing / "b1.parquet")
    engine_to(tmp_path / "ok.json").run()
    committed = state_path.read_text()
    assert StateManager(state_path).get("inc_fail") == 1
    assert StateManager(state_path).get_pin("inc_fail") is not None
    (landing / "b1.parquet").unlink()
    pq.write_table(
        pa.table({"k": [3], "seq": [2], "extra": ["x"]}), landing / "b2.parquet"
    )
    with pytest.raises(Exception):
        engine_to(blocker / "sub" / "out.json").run()
    assert state_path.read_text() == committed


def _landing_pipeline(tmp_path, spark, cursor_field, load):
    """An incremental pipeline over ``tmp_path/landing`` and its state path."""
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "landing",
            "extract": {"type": "parquet", "config": {"path": str(tmp_path / "landing")}},
            "load": load,
            "incremental": {"cursor_field": cursor_field},
        },
    }
    state_path = tmp_path / "state.json"
    engine = PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(state_path)
    )
    return engine, state_path


def _land(tmp_path, batch):
    """Land one batch: relative file path -> table, or (table, extra
    ``pq.write_table`` arguments), or None to delete the file. Two-row
    row groups, so a file can hold an all-null group."""
    for rel, table in batch.items():
        path = tmp_path / "landing" / rel
        if table is None:
            path.unlink()
            continue
        table, kwargs = table if isinstance(table, tuple) else (table, {})
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, path, row_group_size=2, **kwargs)


def _sqlite_sink(tmp_path):
    return {
        "type": "sql_database",
        "config": {
            "database": str(tmp_path / "out.db"),
            "table": "t",
            "if_exists": "upsert",
            "primary_keys": ["k"],
        },
    }


def _sqlite_rows(tmp_path):
    with sqlite3.connect(tmp_path / "out.db") as con:
        return con.execute("SELECT k, seq FROM t ORDER BY k").fetchall()


def test_incremental_cursor_ignores_file_landing_after_extract(tmp_path, spark, monkeypatch):
    """A file landing after extract() returns and before the cursor is
    computed belongs to the next batch: the committed cursor is the max
    of the rows the sink loaded, and the next run loads the late file."""
    engine, state_path = _landing_pipeline(tmp_path, spark, "seq", _sqlite_sink(tmp_path))
    _land(tmp_path, {"b1.parquet": pa.table({"k": [1, 2], "seq": [1, 1]})})
    extract = ParquetSource.extract

    def extract_then_land(self):
        df = extract(self)
        _land(tmp_path, {"b2.parquet": pa.table({"k": [3], "seq": [2]})})
        return df

    monkeypatch.setattr(ParquetSource, "extract", extract_then_land)
    engine.run()
    monkeypatch.undo()
    assert _sqlite_rows(tmp_path) == [(1, 1), (2, 1)]
    assert StateManager(state_path).get("landing") == 1
    engine.run()
    assert _sqlite_rows(tmp_path) == [(1, 1), (2, 1), (3, 2)]
    assert StateManager(state_path).get("landing") == 2


def _ts(*seconds):
    return pa.array(
        [datetime(2024, 1, 1) + timedelta(seconds=s) for s in seconds], pa.timestamp("us")
    )


def _dec(*values):
    return pa.array([Decimal(v) for v in values], pa.decimal128(10, 2))


# case -> (cursor field, batches, how many batches' cursors take the Spark
# aggregate because the footers cannot answer them exactly)
_CURSOR_CASES = {
    "timestamp": ("ts", [
        {"b1.parquet": pa.table({"k": [1, 2], "ts": _ts(1, 2)})},
        {"b2.parquet": pa.table({"k": [3], "ts": _ts(3)})},
    ], 2),
    "double_with_nan": ("x", [
        {"b1.parquet": pa.table({"k": [1, 2], "x": [2.5, 1.5]})},
        {"b2.parquet": pa.table({"k": [3, 4], "x": [3.5, math.nan]})},
    ], 2),
    "decimal": ("d", [
        {"b1.parquet": pa.table({"k": [1, 2], "d": _dec("1.25", "2.50")})},
        {"b2.parquet": pa.table({"k": [3], "d": _dec("3.75")})},
    ], 2),
    "hive_partition": ("seq", [
        {"seq=1/part.parquet": pa.table({"k": [1, 2]})},
        {"seq=2/part.parquet": pa.table({"k": [3]})},
    ], 2),
    "no_statistics": ("seq", [
        {"b1.parquet": pa.table({"k": [1, 2], "seq": [1, 1]})},
        {"b2.parquet": (pa.table({"k": [3], "seq": [2]}), {"write_statistics": False})},
    ], 1),
    "all_null_row_group": ("seq", [
        {"b1.parquet": pa.table({"k": [1, 2, 3, 4], "seq": pa.array([None, None, 1, 1], pa.int64())})},
        {
            "b2.parquet": pa.table({"k": [5, 6], "seq": pa.array([None, None], pa.int64())}),
            "b3.parquet": pa.table({"k": [7], "seq": pa.array([2], pa.int64())}),
        },
    ], 0),
    "added_column": ("seq", [
        {"b1.parquet": pa.table({"k": [1, 2], "seq": [1, 1]})},
        {"b1.parquet": None, "b2.parquet": pa.table({"k": [3], "seq": [2], "extra": ["x"]})},
    ], 0),
}


def _run_cursor_case(tmp_path, spark, field, batches):
    """Committed cursor after each batch, and the sink's rows."""
    tmp_path.mkdir()
    out = tmp_path / "out"
    engine, state_path = _landing_pipeline(
        tmp_path, spark, field,
        {"type": "parquet", "config": {"path": str(out), "mode": "append"}},
    )
    cursors = []
    for batch in batches:
        _land(tmp_path, batch)
        engine.run()
        cursors.append(json.dumps(StateManager(state_path).get("landing")))
    sink = spark.read.option("mergeSchema", "true").parquet(str(out))
    # repr, so a NaN cell equals itself
    return cursors, sorted(repr(sorted(r.asDict().items())) for r in sink.collect())


@pytest.mark.parametrize("case", list(_CURSOR_CASES))
def test_incremental_parquet_cursor_matches_aggregate(tmp_path, spark, monkeypatch, caplog, case):
    """Footer cursor and schema pin commit the same cursors and load the
    same rows as the Spark-aggregate cursor with per-run inference. Cursor
    types the footers cannot answer exactly take the aggregate; a column
    added after the schema was pinned re-infers and reaches the sink."""
    field, batches, n_aggregates = _CURSOR_CASES[case]
    aggregates = []
    base_cursor_max = BaseSource.cursor_max

    def counted(self, df, cursor_field, cursor):
        aggregates.append(cursor)
        return base_cursor_max(self, df, cursor_field, cursor)

    monkeypatch.setattr(BaseSource, "cursor_max", counted)
    got = _run_cursor_case(tmp_path / "footer", spark, field, batches)
    assert len(aggregates) == n_aggregates

    monkeypatch.setattr(ParquetSource, "cursor_max", BaseSource.cursor_max)
    monkeypatch.setattr(ParquetSource, "apply_schema_pin", BaseSource.apply_schema_pin)
    want = _run_cursor_case(tmp_path / "aggregate", spark, field, batches)
    assert got == want
    if case == "added_column":
        assert repr([("extra", "x"), ("k", 3), ("seq", 2)]) in got[1]
        assert "do not all match the pinned schema" in caplog.text


def test_incremental_parquet_run_jobs(tmp_path, spark):
    """The first incremental parquet -> SQLite run fires 2 Spark jobs
    (schema inference, load); with the schema pinned, a later run's only
    job is the load (the aggregate cursor and inference made it 4)."""
    from test_sql_sink import _jobs_of

    engine, state_path = _landing_pipeline(tmp_path, spark, "seq", _sqlite_sink(tmp_path))
    _land(tmp_path, {"b1.parquet": pa.table({"k": [1, 2], "seq": [1, 1]})})
    assert _jobs_of(spark, engine.run) == 2
    _land(tmp_path, {"b2.parquet": pa.table({"k": [2, 3], "seq": [2, 2]})})
    assert _jobs_of(spark, engine.run) == 1
    assert _sqlite_rows(tmp_path) == [(1, 1), (2, 2), (3, 2)]

    state = StateManager(state_path)
    assert state.get("landing") == 2 and state.get_pin("landing") is not None
    state.clear("landing")
    assert state.get("landing") is None and state.get_pin("landing") is None


def test_full_refresh_ignores_stored_cursor(tmp_path, spark, sf_dir):
    state_path = tmp_path / "state.json"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "fr",
            "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/region.parquet"}},
            "load": {"type": "parquet", "config": {"path": str(tmp_path / "out")}},
            "incremental": {"cursor_field": "r_regionkey", "initial_value": -1},
        },
    }
    engine = PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(state_path)
    )
    engine.run()
    assert engine.run().count() == 0  # incremental: nothing new
    assert engine.run(full_refresh=True).count() == 5  # full refresh: all rows


def test_on_failure_warn_swallows(tmp_path, spark):
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "warned",
            "extract": {"type": "parquet", "config": {"path": "/nonexistent/nope.parquet"}},
        },
        "settings": {"on_failure": "warn", "retry": {"max_attempts": 1, "backoff_seconds": 0}},
    }
    engine = PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(tmp_path / "s.json")
    )
    assert engine.run() is None  # swallowed failure -> explicit None


def test_config_validation_fail_fast(tmp_path):
    with pytest.raises(Exception):
        PipelineConfig.model_validate({"pipeline": {"name": ""}})
    p = tmp_path / "bad.yaml"
    p.write_text("pipeline:\n  name: x\n  extract: {type: parquet}\n  bogus_key: 1\n")
    with pytest.raises(Exception):
        load_config(str(p))


def test_registry_lists_builtins():
    reg = list_registered()
    assert "parquet" in reg["sources"]
    assert "pass_through" in reg["transforms"]
    assert "json_local" in reg["sinks"]


def test_registry_unknown_key_lists_available():
    from etl_ml_pipeline_spark.registry import SOURCES

    with pytest.raises(KeyError, match="Available:"):
        SOURCES.get("definitely_not_registered")


def test_training_data_prep_pipeline(tmp_path, spark):
    """The full LLM training-data prep chain (score -> gate -> dedup ->
    deterministic sample -> partitioned parquet) runs as ONE config-driven
    pipeline; output is lang-partitioned, gated, and reproducible."""
    from pathlib import Path

    from etl_ml_pipeline_spark.engine import PipelineEngine

    repo = Path(__file__).resolve().parent.parent
    out = tmp_path / "training_docs"

    def run(path):
        PipelineEngine(
            str(repo / "configs" / "training_data_prep.yaml"),
            spark=spark,
            inline_config={"pipeline": {"load": {"config": {"path": str(path)}}}},
            state_path=str(tmp_path / "state.json"),
        ).run()

    run(out)
    # hive-style lang partitioning on disk
    assert sorted(p.name for p in out.glob("lang=*")) and (out / "_SUCCESS").exists()
    df = spark.read.parquet(str(out))
    rows = df.collect()
    assert rows
    # quality/length gates held
    assert all(r["quality"] >= 0.4 and r["n_tokens"] >= 10 for r in rows)
    # deterministic sampling + dedup: a second run produces the same ids
    out2 = tmp_path / "training_docs_2"
    run(out2)
    ids1 = {r["doc_id"] for r in rows}
    ids2 = {r["doc_id"] for r in spark.read.parquet(str(out2)).collect()}
    assert ids1 == ids2
    # both strata present in the sampled output
    n_en_out = sum(1 for r in rows if r["lang"] == "en")
    n_other_out = len(rows) - n_en_out
    assert n_en_out > 0 and n_other_out > 0


def test_relational_transform_validation(spark):
    """filter/select/hash_sample fail fast on bad config (plan-time, before I/O)."""
    from etl_ml_pipeline_spark.operators.relational import (
        FilterTransform,
        HashSampleTransform,
        SelectTransform,
    )

    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="where"):
        FilterTransform({})(df)
    with pytest.raises(ValueError, match="columns"):
        SelectTransform({})(df)
    with pytest.raises(ValueError, match="key_col"):
        HashSampleTransform({})(df)
    with pytest.raises(ValueError, match="rate_pct"):
        HashSampleTransform({"key_col": "k", "rate_pct": 150})(df)
    # happy paths
    assert FilterTransform({"where": "k >= 5"})(df).count() == 5
    assert SelectTransform({"exprs": {"k2": "k * 2"}})(df).columns == ["k2"]
    sampled = HashSampleTransform({"key_col": "k", "rate_pct": 100})(df)
    assert sampled.count() == 10


def test_sql_and_join_transforms(tmp_path, spark, sf_dir):
    """A YAML pipeline can enrich via a broadcast join against a second
    source and then aggregate with raw SQL — full relational surface
    through config alone."""
    out = tmp_path / "out_sqljoin"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "nation_customers",
            "extract": {
                "type": "parquet",
                "config": {"path": f"{sf_dir}/customer.parquet"},
            },
            "transform": [
                {
                    "type": "join",
                    "config": {
                        "right": {
                            "type": "parquet",
                            "config": {"path": f"{sf_dir}/nation.parquet"},
                        },
                        "on": {"left": "c_nationkey", "right": "n_nationkey"},
                        "how": "inner",
                        "broadcast": True,
                    },
                },
                {
                    "type": "sql",
                    "config": {
                        "query": "SELECT n_name, count(*) AS n_customers, "
                        "round(sum(c_acctbal), 2) AS total_bal "
                        "FROM input GROUP BY n_name"
                    },
                },
            ],
            "load": {"type": "parquet", "config": {"path": str(out)}},
        },
    }
    PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(tmp_path / "s.json")
    ).run()
    got = {r["n_name"]: r["n_customers"] for r in spark.read.parquet(str(out)).collect()}
    import duckdb

    want = dict(
        duckdb.sql(
            f"SELECT n_name, count(*) FROM '{sf_dir}/customer.parquet' c "
            f"JOIN '{sf_dir}/nation.parquet' n ON c_nationkey = n_nationkey "
            "GROUP BY n_name"
        ).fetchall()
    )
    assert got == want


def test_sql_join_transform_validation(spark):
    from etl_ml_pipeline_spark.operators.relational import JoinTransform, SqlTransform

    df = spark.range(3)
    with pytest.raises(ValueError, match="query"):
        SqlTransform({})(df)
    with pytest.raises(ValueError, match="right.type"):
        JoinTransform({"on": ["id"]})(df)
    with pytest.raises(ValueError, match="'on'"):
        JoinTransform({"right": {"type": "parquet"}})(df)


def test_parquet_sink_sort_by_layout(tmp_path, spark, sf_dir):
    """sort_by clusters rows within files (local sort, no shuffle) so
    parquet min/max stats are selective on the sorted column."""
    out = tmp_path / "sorted_out"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "sorted_orders",
            "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/orders.parquet"}},
            "load": {
                "type": "parquet",
                "config": {"path": str(out), "sort_by": ["o_totalprice"]},
            },
        },
    }
    PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(tmp_path / "s.json")
    ).run()
    import pyarrow.parquet as pq

    files = sorted(out.glob("*.parquet"))
    assert files
    for f in files:
        prices = pq.read_table(f, columns=["o_totalprice"])["o_totalprice"].to_pylist()
        assert prices == sorted(prices)


def test_parquet_sink_zorder_layout(tmp_path, spark):
    """zorder_by clusters BOTH columns: every output file covers a small
    rectangle of the (x, y) space, so min/max stats prune on either
    column — where a plain sort_by x leaves y spanning the full range in
    every file."""
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    n = 64
    grid = spark.createDataFrame(
        [Row(x=i, y=j, payload=i * n + j) for i in range(n) for j in range(n)]
    ).repartition(8)
    src = tmp_path / "grid_src"
    grid.write.parquet(str(src))
    out = tmp_path / "z_out"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "zorder_grid",
            "extract": {"type": "parquet", "config": {"path": str(src)}},
            "load": {
                "type": "parquet",
                "config": {"path": str(out), "zorder_by": ["x", "y"], "zorder_files": 16},
            },
        },
    }
    PipelineEngine(
        _write_config(tmp_path, cfg), spark=spark, state_path=str(tmp_path / "s.json")
    ).run()

    files = sorted(out.glob("*.parquet"))
    assert len(files) >= 4  # range repartition produced real clustering units
    areas = []
    for f in files:
        tbl = pq.read_table(f, columns=["x", "y"])
        xs, ys = tbl["x"].to_pylist(), tbl["y"].to_pylist()
        if not xs:
            continue
        areas.append(
            ((max(xs) - min(xs) + 1) / n) * ((max(ys) - min(ys) + 1) / n)
        )
    # each file's bounding rectangle must cover a small fraction of the
    # full space; a single-column sort would leave the other dimension at
    # ~1.0 width (area ~ 1/n_files only in x, ~1 overall per file pair)
    assert sum(areas) / len(areas) < 0.35, areas


def test_zorder_key_matches_morton_reference(spark):
    """The interleaved key equals a reference Morton encoding of each
    column's normalized rank (values chosen so ranks == values)."""
    from pyspark.sql import Row

    from etl_ml_pipeline_spark.operators.layout import with_zorder_key

    bits = 4
    n = (1 << bits) - 1  # ranks span 0..15 exactly when values do
    rows = [Row(x=i, y=j) for i in range(0, n + 1, 5) for j in range(0, n + 1, 3)]
    df = spark.createDataFrame(rows)
    got = {
        (r.x, r.y): r.z
        for r in with_zorder_key(df, ["x", "y"], "z", bits=bits).collect()
    }

    def morton(x: int, y: int) -> int:
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == {(x, y): morton(x, y) for (x, y) in got}


def test_orc_roundtrip_with_pushdown(tmp_path, spark, sf_dir):
    """parquet -> ORC sink -> ORC source roundtrip; the ORC scan gets
    the same pushdown treatment as parquet."""
    from etl_ml_pipeline_spark import plugins  # noqa: F401
    from etl_ml_pipeline_spark.registry import SINKS, SOURCES

    out = tmp_path / "orders_orc"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with SINKS.get("orc")(spark, {"path": str(out), "sort_by": ["o_orderkey"]}) as s:
        s.load(orders)
    with SOURCES.get("orc")(spark, {"path": str(out)}) as src:
        back = src.extract()
        assert back.count() == orders.count()
        filtered = back.filter("o_orderkey > 1000")
        plan = filtered._sc._jvm.PythonSQLUtils.explainString(
            filtered._jdf.queryExecution(), "formatted"
        )
        assert "PushedFilters" in plan and "o_orderkey" in plan


def test_parquet_schema_evolution_merge(tmp_path, spark):
    """Schema evolution: files written with an evolved schema (extra
    column) read back unified via options.mergeSchema — older rows get
    nulls; no rewrite of existing data needed."""
    from pyspark.sql import Row

    from etl_ml_pipeline_spark import plugins  # noqa: F401
    from etl_ml_pipeline_spark.registry import SOURCES

    path = tmp_path / "evolving"
    spark.createDataFrame([Row(id=1, a="x")]).write.parquet(str(path))
    spark.createDataFrame([Row(id=2, a="y", b=3.5)]).write.mode("append").parquet(
        str(path)
    )
    with SOURCES.get("parquet")(
        spark, {"path": str(path), "options": {"mergeSchema": True}}
    ) as src:
        df = src.extract()
        assert set(df.columns) == {"id", "a", "b"}
        rows = {r.id: r.b for r in df.collect()}
        assert rows[1] is None and rows[2] == 3.5


def test_compact_files_hits_target_count(tmp_path, spark):
    """A 64-fragment table compacts to ceil(bytes/target) files with all
    rows intact and roughly uniform file sizes."""
    from etl_ml_pipeline_spark.operators.layout import compact_files, input_bytes

    src = str(tmp_path / "fragmented")
    spark.range(0, 20_000).selectExpr(
        "id", "id % 97 AS k", "repeat('x', 64) AS pad"
    ).repartition(64).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 64

    nbytes = input_bytes(spark.read.parquet(src))
    dst = str(tmp_path / "compacted")
    # pick a target that lands on 4 output files
    stats = compact_files(spark, src, dst, target_file_bytes=(nbytes + 3) // 4)
    assert stats["files_before"] == 64
    assert stats["files_after"] == stats["target_files"] == 4
    assert spark.read.parquet(dst).count() == 20_000


def test_compact_files_sorted_clusters_disjoint(tmp_path, spark):
    """With sort_col, compaction range-partitions: per-file key ranges
    are disjoint, so parquet min/max stats prune file-level reads."""
    from etl_ml_pipeline_spark.operators.layout import compact_files, input_bytes

    src = str(tmp_path / "frag2")
    spark.range(0, 10_000).selectExpr("id", "repeat('y', 32) AS pad") \
        .repartition(32).write.parquet(src)
    nbytes = input_bytes(spark.read.parquet(src))
    dst = str(tmp_path / "sorted")
    stats = compact_files(
        spark, src, dst, target_file_bytes=(nbytes + 3) // 4, sort_col="id"
    )
    assert stats["files_after"] >= 2
    ranges = []
    for f in spark.read.parquet(dst).inputFiles():
        r = spark.read.parquet(f.replace("file:", "")).agg(
            {"id": "min"}
        ).collect()[0][0], spark.read.parquet(f.replace("file:", "")).agg(
            {"id": "max"}
        ).collect()[0][0]
        ranges.append(r)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint, ordered key ranges across files


def test_quality_gated_load_pipeline(tmp_path, spark):
    """The dq_expectations transform wired into a YAML pipeline: clean
    orders pass the gate and load; a poisoned inline check fails the
    run BEFORE the sink writes anything."""
    from pathlib import Path

    import pytest as _pytest

    from etl_ml_pipeline_spark.engine import PipelineEngine
    from etl_ml_pipeline_spark.operators.validation import DataQualityError

    repo = Path(__file__).resolve().parent.parent
    out = tmp_path / "gated"
    PipelineEngine(
        str(repo / "configs" / "quality_gated_load.yaml"),
        spark=spark,
        inline_config={"pipeline": {"load": {"config": {"path": str(out)}}}},
        state_path=str(tmp_path / "state.json"),
    ).run()
    assert spark.read.parquet(str(out)).count() > 0

    # poison one check: min price impossible -> gate fails, sink untouched
    out_bad = tmp_path / "gated_bad"
    with _pytest.raises(DataQualityError):
        PipelineEngine(
            str(repo / "configs" / "quality_gated_load.yaml"),
            spark=spark,
            inline_config={
                "pipeline": {
                    "load": {"config": {"path": str(out_bad)}},
                    "transform": [
                        {
                            "type": "dq_expectations",
                            "config": {
                                "checks": [
                                    {
                                        "type": "min",
                                        "column": "o_totalprice",
                                        "at_least": 10**12,
                                    }
                                ]
                            },
                        }
                    ],
                }
            },
            state_path=str(tmp_path / "state2.json"),
        ).run()
    assert not out_bad.exists()
