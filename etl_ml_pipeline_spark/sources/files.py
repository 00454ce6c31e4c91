"""File-based sources: parquet / json / csv / jsonl.

Capability parity with the reference's ``json_file`` extractor
(/root/reference/src/data_extractor/extractors/json_file.py:21-34,
``pd.read_json(path, orient="records")``), generalized to the formats a
Spark engine treats as first-class. All of these return lazy scans, so
Catalyst gets predicate pushdown + column pruning + partition pruning
for free.

An incremental parquet extract fires no Spark job of its own: the
cursor comes from the parquet footers of the files the scan lists, and
a schema pinned beside the cursor replaces schema inference (see
:class:`ParquetSource`).
"""

from __future__ import annotations

import hashlib
import logging
from typing import Any
from urllib.parse import urlparse
from urllib.request import url2pathname

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StructType

from etl_ml_pipeline_spark.registry import register_source
from etl_ml_pipeline_spark.sources.base import BaseSource

logger = logging.getLogger(__name__)

# Spark infers a parquet file's schema from its parquet schema and, for
# files Spark wrote, from this key-value entry; a fingerprint covers both.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_UNANSWERED = object()


def _fingerprint(meta: pq.FileMetaData) -> str:
    # str(ParquetSchema) opens with a line naming the object's address.
    schema_text = str(meta.schema).split("\n", 1)[1]
    row_meta = (meta.metadata or {}).get(_SPARK_ROW_METADATA, b"")
    return hashlib.sha256(schema_text.encode() + b"\0" + row_meta).hexdigest()


def _footer_max(metas: list[pq.FileMetaData], field: str) -> Any:
    """Exact ``max(field)`` over every row group of ``metas``, from the
    row-group statistics alone; ``_UNANSWERED`` when a footer lacks the
    top-level column, or a row group that holds values has no min/max."""
    best = None
    for meta in metas:
        schema = meta.schema
        idx = next(
            (i for i in range(len(schema))
             if schema.column(i).name == field and schema.column(i).path == field),
            None,
        )
        if idx is None:
            return _UNANSWERED
        for r in range(meta.num_row_groups):
            group = meta.row_group(r)
            stats = group.column(idx).statistics
            if stats is not None and stats.has_min_max and isinstance(stats.max, int):
                best = stats.max if best is None else max(best, stats.max)
            elif group.num_rows and not (
                stats is not None and stats.has_null_count and stats.null_count == group.num_rows
            ):
                return _UNANSWERED
    return best


class _FileSource(BaseSource):
    format: str = ""

    def _reader(self):
        reader = self.spark.read
        schema = self.config.get("schema")
        if schema:
            reader = reader.schema(schema)
        options = self.config.get("options") or {}
        if options:
            reader = reader.options(**{k: str(v) for k, v in options.items()})
        return reader

    def extract(self) -> DataFrame:
        path = self.config["path"]
        return self._post(self._reader().format(self.format).load(path))


@register_source("parquet")
class ParquetSource(_FileSource):
    """Parquet source. On an incremental extract:

    - the new cursor is ``M = max(row-group maxes)`` from the footers of
      exactly ``df.inputFiles()`` (``max(f | f > c) = M`` if ``M > c``,
      else no new rows), for a byte/short/int/long cursor over local
      files; anything the footers cannot answer exactly takes the base
      Spark aggregate;
    - the schema is read with ``.schema(pinned)`` (no inference job) and
      kept only if every listed file's footer fingerprint equals the
      pinned one; otherwise it is re-inferred and the drift logged. A
      user ``schema`` and ``options.mergeSchema`` keep inference.

    Footer reads are driver-side and O(files) per extract.
    """

    format = "parquet"
    _pin_in: dict[str, Any] | None = None
    _pin_out: dict[str, Any] | None = None
    _footer_memo: tuple[tuple[str, ...], list] = ((), [])

    def apply_schema_pin(self, pin: dict[str, Any] | None) -> None:
        self._pin_in = pin

    def schema_pin(self) -> dict[str, Any] | None:
        return self._pin_out

    def _footers(self, df: DataFrame) -> list[pq.FileMetaData] | None:
        """Footers of exactly the files ``df`` scans. This is the scan's own
        listing, never a second one: a file landing between two listings
        would move the cursor past rows that were never read. None when
        a file is not local or its footer cannot be read."""
        files = tuple(df.inputFiles())
        if files != self._footer_memo[0]:
            metas = []
            for uri in files:
                parsed = urlparse(uri)
                if parsed.scheme != "file":
                    return None
                try:
                    metas.append(pq.read_metadata(url2pathname(parsed.path)))
                except (OSError, ValueError):
                    return None
            self._footer_memo = (files, metas)
        return self._footer_memo[1]

    def extract(self) -> DataFrame:
        options = self.config.get("options") or {}
        if (
            not hasattr(self, "_cursor_predicate")
            or self.config.get("schema")
            or str(options.get("mergeSchema", "")).lower() == "true"
        ):
            return super().extract()
        path = self.config["path"]
        pin = self._pin_in
        if pin is not None:
            reader = self._reader().schema(StructType.fromJson(pin["schema"]))
            df = reader.format("parquet").load(path)
            prints = {_fingerprint(m) for m in self._footers(df) or ()}
            if prints != {pin["fingerprint"]}:
                logger.warning(
                    "parquet files at %s do not all match the pinned schema; re-inferring", path
                )
                pin = None
        if pin is None:
            df = self._reader().format("parquet").load(path)
            prints = {_fingerprint(m) for m in self._footers(df) or ()}
        self._pin_out = (
            {"schema": df.schema.jsonValue(), "fingerprint": prints.pop()}
            if len(prints) == 1
            else None
        )
        return self._post(df)

    def cursor_max(self, df: DataFrame, cursor_field: str, cursor: Any) -> Any:
        field = next((f for f in df.schema.fields if f.name == cursor_field), None)
        metas = None
        if (
            field is not None
            and isinstance(field.dataType, _INTEGRAL)
            and (cursor is None or (isinstance(cursor, int) and not isinstance(cursor, bool)))
        ):
            metas = self._footers(df)
        top = _UNANSWERED if metas is None else _footer_max(metas, cursor_field)
        if top is _UNANSWERED:
            return super().cursor_max(df, cursor_field, cursor)
        return top if top is not None and (cursor is None or top > cursor) else None


@register_source("csv")
class CsvSource(_FileSource):
    format = "csv"

    def extract(self) -> DataFrame:
        path = self.config["path"]
        reader = self._reader().format("csv")
        if "options" not in self.config:
            reader = reader.option("header", "true")
        return self._post(reader.load(path))


@register_source("json_file")
class JsonSource(_FileSource):
    """JSON source.

    ``orient="records"`` in the reference maps to a single top-level JSON
    array -> ``multiLine=true``; JSON Lines is the scalable default.
    """

    format = "json"

    def extract(self) -> DataFrame:
        path = self.config["path"]
        reader = self._reader().format("json")
        if self.config.get("multiline") or self.config.get("orient") == "records":
            reader = reader.option("multiLine", "true")
        return self._post(reader.load(path))


@register_source("orc")
class OrcSource(_FileSource):
    """ORC columnar source — same pushdown/pruning story as parquet
    (predicate pushdown into ORC stripe stats), for corpora stored by
    Hive-lineage systems."""

    format = "orc"


@register_source("table")
class TableSource(BaseSource):
    """Read a registered catalog/temp-view table by name."""

    def extract(self) -> DataFrame:
        return self._post(self.spark.table(self.config["name"]))
