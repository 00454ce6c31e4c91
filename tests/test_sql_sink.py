"""SQL sink tests: append/replace/fail + upsert against sqlite3.

Ports the reference's loader coverage
(/root/reference/tests/test_sqlalchemy_loader.py:26-99 and
/root/reference/tests/test_upsert.py:25-131, SURVEY.md §5).
"""

from __future__ import annotations

import sqlite3

import pytest

from etl_ml_pipeline_spark.sinks.sql_database import (
    SqlDatabaseSink,
    unique_index_sql,
    upsert_sql,
)


def _fetch(db, sql):
    with sqlite3.connect(db) as conn:
        return conn.execute(sql).fetchall()


@pytest.fixture()
def db(tmp_path):
    return str(tmp_path / "test.db")


def _df(spark, rows, schema="id long, name string"):
    return spark.createDataFrame(rows, schema)


def test_append_creates_and_appends(spark, db):
    sink = SqlDatabaseSink(spark, {"database": db, "table": "t", "if_exists": "append"})
    with sink:
        sink.load(_df(spark, [(1, "a"), (2, "b")]))
    with SqlDatabaseSink(spark, {"database": db, "table": "t", "if_exists": "append"}) as sink2:
        sink2.load(_df(spark, [(3, "c")]))
    assert _fetch(db, "SELECT count(*) FROM t") == [(3,)]


def test_replace_drops_existing(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "replace"}
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(1, "a"), (2, "b")]))
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(9, "z")]))
    assert _fetch(db, "SELECT id, name FROM t") == [(9, "z")]


def test_fail_mode_raises_if_exists(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "fail"}
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(1, "a")]))
    with SqlDatabaseSink(spark, cfg) as sink:
        with pytest.raises(ValueError, match="already exists"):
            sink.load(_df(spark, [(2, "b")]))


def test_upsert_insert_then_update(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["id"]}
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(1, "a"), (2, "b")]))
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(2, "B2"), (3, "c")]))
    assert sorted(_fetch(db, "SELECT id, name FROM t")) == [(1, "a"), (2, "B2"), (3, "c")]


def test_upsert_composite_key(spark, db):
    cfg = {
        "database": db,
        "table": "t",
        "if_exists": "upsert",
        "primary_keys": ["a", "b"],
    }
    schema = "a long, b long, v string"
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(1, 1, "x"), (1, 2, "y")], schema))
        sink.load(_df(spark, [(1, 2, "Y2"), (2, 1, "z")], schema))
    assert sorted(_fetch(db, "SELECT a, b, v FROM t")) == [
        (1, 1, "x"), (1, 2, "Y2"), (2, 1, "z"),
    ]


def test_upsert_requires_primary_keys(spark, db):
    sink = SqlDatabaseSink(spark, {"database": db, "table": "t", "if_exists": "upsert"})
    with sink:
        with pytest.raises(ValueError, match="primary_keys"):
            sink.load(_df(spark, [(1, "a")]))


def test_upsert_missing_pk_column_raises(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["nope"]}
    with SqlDatabaseSink(spark, cfg) as sink:
        with pytest.raises(ValueError, match="nope"):
            sink.load(_df(spark, [(1, "a")]))


def test_upsert_creates_unique_index(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["id"]}
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(1, "a")]))
    idx = _fetch(db, "SELECT name FROM sqlite_master WHERE type='index' AND name='uq_t_id'")
    assert idx == [("uq_t_id",)]


def test_empty_df_is_noop(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["id"]}
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(spark.createDataFrame([], "id long, name string"))
    # no table should even be created (reference :82-84 returns before DDL)
    assert _fetch(db, "SELECT name FROM sqlite_master WHERE type='table'") == []


def test_pk_only_table_do_nothing(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["id"]}
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(1,), (2,)], "id long"))
        sink.load(_df(spark, [(2,), (3,)], "id long"))
    assert sorted(_fetch(db, "SELECT id FROM t")) == [(1,), (2,), (3,)]


def test_unknown_mode_raises(spark, db):
    with SqlDatabaseSink(spark, {"database": db, "table": "t", "if_exists": "bogus"}) as sink:
        with pytest.raises(ValueError, match="bogus"):
            sink.load(_df(spark, [(1, "a")]))


def test_sql_generation():
    assert upsert_sql("t", ["id", "v"], ["id"]) == (
        'INSERT INTO "t" ("id", "v") VALUES (?, ?) '
        'ON CONFLICT ("id") DO UPDATE SET "v" = excluded."v"'
    )
    assert 'DO NOTHING' in upsert_sql("t", ["id"], ["id"])
    assert unique_index_sql("t", ["a", "b"]).startswith('CREATE UNIQUE INDEX IF NOT EXISTS "uq_t_a_b"')


def test_timestamps_and_doubles_roundtrip(spark, db):
    import datetime

    df = spark.createDataFrame(
        [(1, 1.5, datetime.datetime(2024, 1, 1, 12, 0))],
        "id long, x double, ts timestamp",
    )
    cfg = {"database": db, "table": "t", "if_exists": "append"}
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(df)
    rows = _fetch(db, "SELECT id, x, ts FROM t")
    assert rows[0][0] == 1 and rows[0][1] == 1.5
    assert "2024-01-01" in str(rows[0][2])


def test_engine_pipeline_to_sql_sink(spark, db, sf_dir, tmp_path):
    """e2e: parquet source -> cleaning transform -> sql_database upsert sink."""
    from etl_ml_pipeline_spark.config import PipelineConfig
    from etl_ml_pipeline_spark.engine import PipelineEngine

    cfg = PipelineConfig.model_validate(
        {
            "version": 1,
            "pipeline": {
                "name": "to_sql",
                "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/region.parquet"}},
                "transform": [],
                "load": {
                    "type": "sql_database",
                    "config": {
                        "database": db,
                        "table": "region",
                        "if_exists": "upsert",
                        "primary_keys": ["r_regionkey"],
                    },
                },
            },
        }
    )
    engine = PipelineEngine(cfg, spark=spark, state_path=str(tmp_path / "state.json"))
    engine.run()
    engine.run()  # idempotent under upsert
    assert _fetch(db, "SELECT count(*) FROM region") == [(5,)]


def test_upsert_rows_strategy_matches_staged(spark, db):
    """The legacy row-level ON CONFLICT path stays available behind
    upsert_strategy='rows' and produces the same table state."""
    cfg = {
        "database": db, "table": "t", "if_exists": "upsert",
        "primary_keys": ["id"], "upsert_strategy": "rows",
    }
    sink = SqlDatabaseSink(spark, cfg)
    sink.load(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    sink.load(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]))
    sink.disconnect()
    got = dict(sqlite3.connect(db).execute("SELECT id, v FROM t").fetchall())
    assert got == {1: "a", 2: "B", 3: "c"}


def test_staged_upsert_dedupes_intra_batch_pks(spark, db):
    """Duplicate PKs inside one load must collapse to a single row —
    Postgres rejects a multi-hit ON CONFLICT DO UPDATE, so the merge
    dedupes in its SELECT; exactly one of the candidate values lands."""
    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["id"]}
    sink = SqlDatabaseSink(spark, cfg)
    sink.load(spark.createDataFrame([(1, "x"), (1, "y"), (2, "b")], ["id", "v"]))
    sink.disconnect()
    rows = sqlite3.connect(db).execute("SELECT id, v FROM t ORDER BY id").fetchall()
    assert [r[0] for r in rows] == [1, 2]
    assert rows[0][1] in ("x", "y")


def test_staged_upsert_drops_stage_table(spark, db):
    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["id"]}
    sink = SqlDatabaseSink(spark, cfg)
    sink.load(spark.createDataFrame([(1, "a")], ["id", "v"]))
    sink.disconnect()
    names = [
        r[0]
        for r in sqlite3.connect(db).execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    ]
    assert names == ["t"], names


def test_delta_merge_branch_with_stubbed_api(spark, db, monkeypatch, tmp_path):
    """Prove the gated Delta MERGE branch forms the right calls without
    delta-spark installed (VERDICT r04 #6: no silent dead code): a
    minimal stub of delta.tables.DeltaTable records the fluent chain.
    Covers both the first-load create (isDeltaTable False -> plain delta
    write) and the MERGE path (composite-key condition, update-all /
    insert-all clauses, execute)."""
    import sys
    import types

    calls: dict = {}

    class FakeMergeBuilder:
        def whenMatchedUpdateAll(self):
            calls.setdefault("chain", []).append("whenMatchedUpdateAll")
            return self

        def whenNotMatchedInsertAll(self):
            calls.setdefault("chain", []).append("whenNotMatchedInsertAll")
            return self

        def withSchemaEvolution(self):
            calls.setdefault("chain", []).append("withSchemaEvolution")
            return self

        def execute(self):
            calls.setdefault("chain", []).append("execute")

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(spark_, path):
            calls["isDeltaTable_path"] = path
            return calls.get("exists", False)

        @staticmethod
        def forPath(spark_, path):
            calls["forPath_path"] = path
            return FakeDeltaTable()

        def alias(self, a):
            calls["target_alias"] = a
            return self

        def merge(self, src_df, cond):
            calls["merge_cond"] = cond
            calls["source_is_df"] = hasattr(src_df, "sparkSession")
            return FakeMergeBuilder()

    fake_tables = types.ModuleType("delta.tables")
    fake_tables.DeltaTable = FakeDeltaTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)

    # first-load create: df.write.format("delta") — intercept the writer
    # because the real delta datasource jar is absent.
    writes: list = []
    df = _df(spark, [(1, "x", "a")], "id long, region string, name string")

    class FakeWriter:
        def format(self, fmt):
            writes.append(("format", fmt))
            return self

        def save(self, path):
            writes.append(("save", path))

    monkeypatch.setattr(type(df), "write", property(lambda self: FakeWriter()))

    cfg = {
        "database": db, "table": "t", "if_exists": "upsert",
        "primary_keys": ["id", "region"], "delta_path": str(tmp_path / "dt"),
    }
    sink = SqlDatabaseSink(spark, cfg)
    sink.load(df)  # isDeltaTable False -> create
    assert writes == [("format", "delta"), ("save", str(tmp_path / "dt"))]
    assert "merge_cond" not in calls

    calls["exists"] = True
    sink.load(df)  # now the MERGE path
    sink.disconnect()
    assert calls["forPath_path"] == str(tmp_path / "dt")
    assert calls["merge_cond"] == 't."id" = s."id" AND t."region" = s."region"'
    assert calls["source_is_df"]
    assert calls["chain"] == [
        "whenMatchedUpdateAll", "whenNotMatchedInsertAll", "execute",
    ]

    # second append against the existing table with a WIDER source
    # schema: delta_schema_evolution=true must thread the fluent
    # withSchemaEvolution() call between the clause builders and
    # execute (Delta's per-statement autoMerge opt-in); without the
    # flag the chain stays evolution-free (asserted above).
    calls["chain"] = []
    wide = _df(
        spark,
        [(1, "x", "a", 7)],
        "id long, region string, name string, extra long",
    )
    monkeypatch.setattr(type(wide), "write", property(lambda self: FakeWriter()))
    cfg_evo = dict(cfg, delta_schema_evolution=True)
    sink_evo = SqlDatabaseSink(spark, cfg_evo)
    sink_evo.load(wide)
    sink_evo.disconnect()
    assert calls["chain"] == [
        "whenMatchedUpdateAll",
        "whenNotMatchedInsertAll",
        "withSchemaEvolution",
        "execute",
    ]


def test_delta_path_without_delta_spark_raises(spark, db):
    """delta_path is the import-gated lakehouse MERGE route; without
    delta-spark installed it must fail loudly, not fall back silently."""
    cfg = {
        "database": db, "table": "t", "if_exists": "upsert",
        "primary_keys": ["id"], "delta_path": "/tmp/nope-delta",
    }
    sink = SqlDatabaseSink(spark, cfg)
    try:
        import delta  # noqa: F401

        pytest.skip("delta-spark installed; gate not exercisable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="delta-spark"):
        sink.load(spark.createDataFrame([(1, "a")], ["id", "v"]))
    sink.disconnect()


@pytest.fixture(params=["UTC", "America/New_York"])
def local_tz(request, monkeypatch):
    """Run under a given process time zone: naive timestamps go in and
    come back out in the driver's local time on every write path."""
    import time

    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


_ALL_TYPES = (
    "id long, b byte, s short, i int, flag boolean, f float, d double, "
    "dec decimal(12,2), txt string, day date, ts timestamp, bin binary"
)


def _all_types_df(spark):
    """Every type in _SPARK_TO_SQL plus null, NaN, -0.0, sub-second
    timestamps and an empty binary value, over 3 partitions."""
    import datetime
    from decimal import Decimal

    rows = [
        (1, 1, 2, 3, True, 1.1, float("nan"), Decimal("1234.56"), "a",
         datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
         b"\x00\x01"),
        (2, -128, -32768, -(2**31), False, -0.0, -0.0, Decimal("-0.01"), "",
         datetime.date(1970, 1, 1), datetime.datetime(1999, 12, 31, 23, 59, 59, 1), b""),
        (3, None, None, None, None, None, None, None, None, None, None, None),
        (4, 127, 32767, 2**31 - 1, True, float("inf"), 1e300, Decimal("9999999999.99"),
         "naïve ☃", datetime.date(2038, 7, 4), datetime.datetime(2024, 7, 1, 0, 0), b"xyz"),
    ]
    df = spark.createDataFrame(rows, _ALL_TYPES).repartition(3)
    assert df.rdd.getNumPartitions() == 3
    return df


# What every write path must store for _all_types_df: the cells that
# writing its collect() Rows gives (SQLite binds NaN as NULL and keeps
# -0.0 as 0.0).
_ALL_TYPES_STORED = [
    (1, 1, 2, 3, 1, 1.100000023841858, None, 1234.56, "a", "2024-01-02",
     "2024-01-01 12:00:00.123456", b"\x00\x01"),
    (2, -128, -32768, -(2**31), 0, 0.0, 0.0, -0.01, "", "1970-01-01",
     "1999-12-31 23:59:59.000001", b""),
    (3, None, None, None, None, None, None, None, None, None, None, None),
    (4, 127, 32767, 2**31 - 1, 1, float("inf"), 1e300, 9999999999.99, "naïve ☃",
     "2038-07-04", "2024-07-01 00:00:00", b"xyz"),
]


# The driver-side write paths: append, the default staged upsert and
# the row-level upsert.
_DRIVER_PATHS = pytest.mark.parametrize(
    "extra",
    [
        {"if_exists": "append"},
        {"if_exists": "upsert", "primary_keys": ["id"]},
        {"if_exists": "upsert", "primary_keys": ["id"], "upsert_strategy": "rows"},
    ],
    ids=["append", "staged_upsert", "rows_upsert"],
)


@_DRIVER_PATHS
def test_all_types_stored_cells(spark, db, local_tz, extra):
    df = _all_types_df(spark)
    with SqlDatabaseSink(spark, {"database": db, "table": "t", **extra}) as sink:
        sink.load(df)
        if extra["if_exists"] == "upsert":
            sink.load(df)  # second load takes the ON CONFLICT update branch
    got = _fetch(db, "SELECT * FROM t ORDER BY id")
    assert got == _ALL_TYPES_STORED
    # == equates 1, 1.0 and True, and 0.0 with -0.0; repr does not
    assert repr(got) == repr(_ALL_TYPES_STORED)


def test_decimal_upsert(spark, db):
    from decimal import Decimal

    cfg = {"database": db, "table": "t", "if_exists": "upsert", "primary_keys": ["id"]}
    schema = "id long, price decimal(12,2)"
    with SqlDatabaseSink(spark, cfg) as sink:
        sink.load(_df(spark, [(1, Decimal("10.25")), (2, Decimal("3.10"))], schema))
        sink.load(_df(spark, [(2, Decimal("4.75"))], schema))
    assert _fetch(db, "SELECT id, price FROM t ORDER BY id") == [(1, 10.25), (2, 4.75)]


def _jobs_of(spark, fn) -> int:
    """Spark jobs fired by fn(), counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"sqlsink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))


@_DRIVER_PATHS
def test_driver_load_is_one_spark_job(spark, db, extra):
    df = spark.range(0, 30, 1, numPartitions=3).selectExpr("id", "cast(id AS string) AS v")
    with SqlDatabaseSink(spark, {"database": db, "table": "t", **extra}) as sink:
        assert _jobs_of(spark, lambda: sink.load(df.where("id < 0"))) == 1
        assert _fetch(db, "SELECT name FROM sqlite_master WHERE type='table'") == []
        assert _jobs_of(spark, lambda: sink.load(df)) == 1
    assert _fetch(db, "SELECT count(*) FROM t") == [(30,)]
