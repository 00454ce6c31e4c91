"""SQL database sink: append / replace / fail / upsert over DBAPI.

Capability parity with /root/reference/src/data_extractor/loaders/
sqlalchemy_loader.py:

- modes ``append`` / ``replace`` / ``fail`` (reference :30-62,
  pandas ``to_sql(if_exists=...)`` semantics: replace drops+recreates,
  fail raises if the table exists).
- ``upsert`` with required ``primary_keys`` (reference :74-169):
  creates the table if missing plus a unique index
  ``uq_<table>_<pk1>_<pk2>`` (reference :127-160), then
  ``INSERT ... ON CONFLICT (<pks>) DO UPDATE SET col=excluded.col``;
  PK-only tables degrade to ``DO NOTHING`` (reference :108-117); empty
  DataFrame is a no-op (reference :82-84).

Spark-first differences (SURVEY.md §2.3/L3, §4.2):

- The reference executes ONE statement per row (reference :104-118) —
  an O(rows) anti-pattern we deliberately do not port. Statements here
  are batched via ``executemany`` over Arrow-sized chunks.
- **Upsert default is STAGED MERGE**: rows land in a transient stage
  table (executors write plain appends concurrently under
  ``distributed: true``; single-writer stream otherwise), then ONE
  server-side ``INSERT ... SELECT ... ON CONFLICT`` merges stage into
  target and the stage is dropped. This is the scaled-up shape of the
  reference's upsert: conflict resolution happens inside the database
  engine in one set-based statement instead of per-batch statement
  round-trips, and executors only ever perform the cheap append.
  ``upsert_strategy: rows`` restores the direct row-level ON CONFLICT
  path.
- **Driver memory**: without ``distributed``/``delta_path`` a load is
  ONE Spark job, ``df.toArrow()``, holding the load's rows in driver
  memory; Spark caps it at ``spark.driver.maxResultSize`` and fails with
  its own error. Larger loads belong on ``distributed`` or ``delta_path``.
- SQLite is a single-writer embedded DB, so a single driver-side writer
  is the *correct* concurrency model for it. For server databases
  (Postgres), ``connection_factory`` supplies the DBAPI connection per
  partition. On a real cluster the idiomatic path for lakehouse targets
  is Delta ``MERGE INTO`` (SURVEY.md §4.2): pass ``delta_path`` and the
  sink uses it when delta-spark is importable (import-gated — not in
  this container; the staged merge is the tested default).

Only the stdlib ``sqlite3`` driver ships in this container; the SQL
emitted (ON CONFLICT) is the same dialect the reference targets
(SQLite/Postgres, reference :89-97 — other dialects raise
``NotImplementedError`` there and here).
"""

from __future__ import annotations

import sqlite3
from typing import Any, Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_ml_pipeline_spark.registry import register_sink
from etl_ml_pipeline_spark.sinks.base import BaseSink

_SPARK_TO_SQL = {
    T.ByteType: "INTEGER",
    T.ShortType: "INTEGER",
    T.IntegerType: "INTEGER",
    T.LongType: "INTEGER",
    T.BooleanType: "INTEGER",
    T.FloatType: "REAL",
    T.DoubleType: "REAL",
    T.DecimalType: "REAL",
    T.StringType: "TEXT",
    T.DateType: "TEXT",
    T.TimestampType: "TEXT",
    T.BinaryType: "BLOB",
}


def sql_type_for(dtype: T.DataType) -> str:
    return _SPARK_TO_SQL.get(type(dtype), "TEXT")


def quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def create_table_sql(table: str, schema: T.StructType) -> str:
    cols = ", ".join(
        f"{quote_ident(f.name)} {sql_type_for(f.dataType)}" for f in schema.fields
    )
    return f"CREATE TABLE IF NOT EXISTS {quote_ident(table)} ({cols})"


def unique_index_sql(table: str, primary_keys: list[str]) -> str:
    """uq_<table>_<pks> unique index (reference sqlalchemy_loader.py:149-160)."""
    idx = f"uq_{table}_{'_'.join(primary_keys)}"
    pk_cols = ", ".join(quote_ident(k) for k in primary_keys)
    return (
        f"CREATE UNIQUE INDEX IF NOT EXISTS {quote_ident(idx)} "
        f"ON {quote_ident(table)} ({pk_cols})"
    )


def insert_sql(table: str, columns: list[str]) -> str:
    col_list = ", ".join(quote_ident(c) for c in columns)
    placeholders = ", ".join("?" for _ in columns)
    return f"INSERT INTO {quote_ident(table)} ({col_list}) VALUES ({placeholders})"


def on_conflict_sql(columns: list[str], primary_keys: list[str]) -> str:
    """Dialect: SQLite/Postgres ``ON CONFLICT`` (reference :89-118)."""
    pk_list = ", ".join(quote_ident(k) for k in primary_keys)
    non_pk = [c for c in columns if c not in primary_keys]
    if non_pk:
        sets = ", ".join(f"{quote_ident(c)} = excluded.{quote_ident(c)}" for c in non_pk)
        return f"ON CONFLICT ({pk_list}) DO UPDATE SET {sets}"
    return f"ON CONFLICT ({pk_list}) DO NOTHING"  # PK-only table (reference :108-117)


def upsert_sql(table: str, columns: list[str], primary_keys: list[str]) -> str:
    return f"{insert_sql(table, columns)} {on_conflict_sql(columns, primary_keys)}"


def _to_py(value: Any) -> Any:
    """numpy scalar -> native; datetime/date -> ISO string; Decimal ->
    float (DecimalType columns are REAL).

    The reference serializes dates as ISO strings for SQLite
    compatibility (finance_transformer.py:57-62); numpy unwrap mirrors
    state.py:62-68. Explicit conversion avoids Python's deprecated
    sqlite3 default adapters.
    """
    import datetime
    import decimal

    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat(sep=" ") if isinstance(value, datetime.datetime) else value.isoformat()
    if isinstance(value, decimal.Decimal):
        return float(value)
    item = getattr(value, "item", None)
    return item() if callable(item) else value


def arrow_rows(data: pa.Table, batch_size: int) -> Iterable[tuple]:
    """Row tuples of an Arrow table, ``batch_size`` rows converted at a
    time, in the cell forms ``collect()`` gives: Arrow's UTC-aware
    TimestampType values become naive local time, as in ``Row``s."""
    for batch in data.to_batches(max_chunksize=batch_size):
        cols = [col.to_pylist() for col in batch.columns]
        for k, col in enumerate(batch.columns):
            if pa.types.is_timestamp(col.type) and col.type.tz is not None:
                cols[k] = [None if v is None else v.astimezone().replace(tzinfo=None) for v in cols[k]]
        yield from zip(*cols)


def write_batches(
    conn: Any,
    sql: str,
    rows: Iterable[tuple],
    batch_size: int = 1000,
) -> int:
    """Batched executemany in one transaction (vs reference's per-row loop)."""
    cur = conn.cursor()
    batch: list[tuple] = []
    n = 0
    for row in rows:
        batch.append(tuple(_to_py(v) for v in row))
        if len(batch) >= batch_size:
            cur.executemany(sql, batch)
            n += len(batch)
            batch.clear()
    if batch:
        cur.executemany(sql, batch)
        n += len(batch)
    conn.commit()
    return n


@register_sink("sql_database")
class SqlDatabaseSink(BaseSink):
    """Config: database (sqlite path), table, if_exists
    (append|replace|fail|upsert), primary_keys, batch_size,
    upsert_strategy ("staged" default | "rows"), delta_path (Delta
    MERGE target, import-gated), distributed (bool),
    connection_factory (callable -> DBAPI conn, overrides sqlite;
    required for distributed mode with server DBs).
    """

    def connect(self) -> None:
        factory = self.config.get("connection_factory")
        if factory is None:
            database = self.config["database"]
            factory = lambda: sqlite3.connect(database)  # noqa: E731
        self._factory: Callable[[], Any] = factory
        self._conn = self._factory()

    def disconnect(self) -> None:
        conn = getattr(self, "_conn", None)
        if conn is not None:
            conn.close()
            self._conn = None

    # ------------------------------------------------------------------
    def _table_exists(self, table: str) -> bool:
        cur = self._conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table' AND name=?", (table,)
        )
        return cur.fetchone() is not None

    def _prepare_table(self, df: DataFrame, table: str, mode: str, pks: list[str]) -> None:
        if mode == "fail" and self._table_exists(table):
            raise ValueError(f"Table {table!r} already exists (if_exists='fail')")
        if mode == "replace":
            self._conn.execute(f"DROP TABLE IF EXISTS {quote_ident(table)}")
        self._conn.execute(create_table_sql(table, df.schema))
        if mode == "upsert":
            self._conn.execute(unique_index_sql(table, pks))
        self._conn.commit()

    # ------------------------------------------------------------------
    def load(self, df: DataFrame) -> None:
        if not hasattr(self, "_conn") or self._conn is None:
            self.connect()
        table: str = self.config["table"]
        mode: str = self.config.get("if_exists", "append")
        pks: list[str] = list(self.config.get("primary_keys") or [])
        if mode == "upsert" and not pks:
            raise ValueError("if_exists='upsert' requires primary_keys")
        if mode not in ("append", "replace", "fail", "upsert"):
            raise ValueError(f"Unknown if_exists mode: {mode!r}")

        columns = df.columns
        if mode == "upsert":
            missing = [k for k in pks if k not in columns]
            if missing:
                raise ValueError(f"primary_keys not in DataFrame: {missing}")
        sql = upsert_sql(table, columns, pks) if mode == "upsert" else insert_sql(table, columns)

        # One Arrow collect per driver-side load (see "Driver memory"
        # above); Delta/distributed loads never collect, so they probe.
        # Empty = no-op after validation, before any DDL (reference :82-84).
        delta = mode == "upsert" and self.config.get("delta_path")
        data = None if delta or self.config.get("distributed") else df.toArrow()
        if (df.isEmpty() if data is None else data.num_rows == 0):
            return

        batch_size = int(self.config.get("batch_size", 1000))
        if delta:
            self._load_delta_merge(df, pks)
            return
        self._prepare_table(df, table, mode, pks)
        if mode == "upsert" and self.config.get("upsert_strategy", "staged") == "staged":
            self._load_staged_upsert(df, data, table, pks, batch_size)
            return
        self._write(df, data, sql, batch_size)

    def _write(self, df: DataFrame, data: pa.Table | None, sql: str, batch_size: int) -> None:
        if data is None:  # distributed: the executors write
            self._load_distributed(df, sql, batch_size)
        else:
            write_batches(self._conn, sql, arrow_rows(data, batch_size), batch_size)

    def _load_staged_upsert(
        self, df: DataFrame, data: pa.Table | None, table: str, pks: list[str], batch_size: int
    ) -> None:
        """Stage-and-merge upsert (the default): append rows to a
        transient stage table, then one server-side set-based merge.

        Why this is the scale path: executors do only conflict-free
        appends (no per-batch upsert statement round-trips, no unique-
        index contention while loading), and the database engine
        resolves conflicts once, set-based, inside a single statement —
        the same division of labor as Delta/Snowflake ``MERGE INTO``
        (stage = the source relation). Intra-batch duplicate PKs are
        reduced to one row per key in the merge's SELECT (``row_number()
        OVER (PARTITION BY pks)``) — Postgres rejects a multi-hit ON
        CONFLICT DO UPDATE, and distributed appends have no defined row
        order to prefer anyway.
        """
        import uuid

        stage = f"{table}__stage_{uuid.uuid4().hex[:8]}"
        columns = df.columns
        col_list = ", ".join(quote_ident(c) for c in columns)
        pk_list = ", ".join(quote_ident(k) for k in pks)
        # the inner WHERE also satisfies SQLite's parser requirement that
        # an INSERT..SELECT..ON CONFLICT source carry a WHERE clause
        merge = (
            f"INSERT INTO {quote_ident(table)} ({col_list}) "
            f"SELECT {col_list} FROM ("
            f"  SELECT *, row_number() OVER (PARTITION BY {pk_list}) AS __rn "
            f"  FROM {quote_ident(stage)}"
            f") WHERE __rn = 1 {on_conflict_sql(columns, pks)}"
        )
        self._conn.execute(create_table_sql(stage, df.schema))
        self._conn.commit()
        try:
            self._write(df, data, insert_sql(stage, columns), batch_size)
            self._conn.execute(merge)
            self._conn.commit()
        finally:
            self._conn.execute(f"DROP TABLE IF EXISTS {quote_ident(stage)}")
            self._conn.commit()

    def _load_delta_merge(self, df: DataFrame, pks: list[str]) -> None:
        """Delta Lake ``MERGE INTO`` upsert (SURVEY §4.2) — the lakehouse
        path, import-gated because delta-spark is not in this container.
        Config: ``delta_path`` points at the Delta table location; the
        table is created on first load."""
        try:
            from delta.tables import DeltaTable
        except ImportError as exc:  # pragma: no cover - env without delta
            raise NotImplementedError(
                "delta_path configured but delta-spark is not installed; "
                "install delta-spark or use the staged/rows upsert strategies"
            ) from exc
        path = self.config["delta_path"]
        spark = df.sparkSession
        if not DeltaTable.isDeltaTable(spark, path):
            df.write.format("delta").save(path)
            return
        target = DeltaTable.forPath(spark, path)
        cond = " AND ".join(f"t.{quote_ident(k)} = s.{quote_ident(k)}" for k in pks)
        builder = (
            target.alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
        )
        if self.config.get("delta_schema_evolution"):
            # Delta's fluent schema-evolution opt-in: source columns
            # absent from the target are ADDED by the merge instead of
            # raising an analysis error (the per-statement equivalent of
            # spark.databricks.delta.schema.autoMerge.enabled).
            builder = builder.withSchemaEvolution()
        builder.execute()

    def _load_distributed(self, df: DataFrame, sql: str, batch_size: int) -> None:
        """foreachPartition concurrent writers (server DBs; SURVEY §2.3/L3)."""
        factory = self._factory
        if "connection_factory" not in self.config:
            raise ValueError(
                "distributed=true requires a picklable connection_factory "
                "for a server database; SQLite is single-writer"
            )

        def write_partition(rows) -> None:
            conn = factory()
            try:
                write_batches(conn, sql, (tuple(r) for r in rows), batch_size)
            finally:
                conn.close()

        df.foreachPartition(write_partition)
