"""Source (extractor) base class.

Capability parity with /root/reference/src/data_extractor/extractors/base.py:35-64:
context-managed resource lifecycle (``connect``/``disconnect`` guaranteed via
``__enter__``/``__exit__``) around an ``extract()`` that yields a table.
Spark-first difference: ``extract`` returns a *lazy* ``pyspark.sql.DataFrame``
— file sources return a scan node (pushdown-friendly), API sources
materialize driver-side rows into ``spark.createDataFrame``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BaseSource:
    def __init__(self, spark: SparkSession, config: dict[str, Any]) -> None:
        self.spark = spark
        self.config = dict(config)

    # -- lifecycle ---------------------------------------------------------
    def connect(self) -> None:  # pragma: no cover - default no-op
        pass

    def disconnect(self) -> None:  # pragma: no cover - default no-op
        pass

    def __enter__(self) -> "BaseSource":
        self.connect()
        return self

    def __exit__(self, *exc: object) -> None:
        self.disconnect()

    # -- incremental hook --------------------------------------------------
    def apply_cursor(self, cursor: Any, cursor_field: str, cursor_param: str | None) -> None:
        """Default cursor pushdown: remember a predicate the extract applies.

        File/table sources push ``col(cursor_field) > cursor`` into the scan
        (Catalyst turns it into a parquet/JDBC pushed filter); API sources
        override this to inject a query param (reference engine.py:159-162).
        """
        self._cursor_predicate = (cursor_field, cursor)

    def cursor_max(self, df: DataFrame, cursor_field: str, cursor: Any) -> Any:
        """The new cursor: ``max(cursor_field)`` over the extracted rows,
        which the cursor already filtered (None when there are none).

        The default is one Spark aggregate over ``df``; a source that can
        answer it from metadata overrides this and falls back here.
        """
        row = df.agg(F.max(cursor_field).alias("c")).collect()
        return row[0]["c"] if row else None

    def apply_schema_pin(self, pin: dict[str, Any] | None) -> None:
        """Offer the schema pin the previous run stored beside the cursor.
        Sources that infer no schema ignore it."""

    def schema_pin(self) -> dict[str, Any] | None:
        """The pin to store beside this run's cursor; None stores none."""
        return None

    # -- extraction --------------------------------------------------------
    def extract(self) -> DataFrame:
        raise NotImplementedError
