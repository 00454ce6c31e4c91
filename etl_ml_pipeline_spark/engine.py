"""PipelineEngine: config tree -> lazy DataFrame plan -> one action.

Capability parity with /root/reference/src/data_extractor/engine.py
(single-table extract -> transform chain -> load, incremental cursor,
retry with exponential backoff, commit-cursor-after-load), re-expressed
for Spark's execution model:

- The reference runs each stage eagerly on an in-memory Pandas frame
  (engine.py:87-124). Here the extract and every transform compose into
  ONE lazy Catalyst plan; the sink's write is the only action, so
  Catalyst fuses/pushes down/prunes across stage boundaries.
- Cursor semantics are preserved exactly: cursor = max(cursor_field)
  computed on the *post-extract, pre-transform* table (engine.py:94-105),
  persisted only after a successful load (engine.py:126-128). The source
  computes it (``BaseSource.cursor_max``): a local parquet extract with
  a byte/short/int/long cursor answers it from the footers of the files
  its own scan lists (no Spark job); every other case runs one Spark agg.
  A parquet source's inferred schema is pinned beside the cursor, in the
  same atomic state write, so the next run reads without inference.
- Retry wraps extract-plan-construction+load (the action) and is a
  driver-side decorator (engine.py:201-218); Spark tasks additionally
  retry internally via spark.task.maxFailures.
- ``settings.on_failure`` is honored ("abort" raises, "skip"/"warn" log
  and return) — the reference validates but ignores it (SURVEY.md §0).
"""

from __future__ import annotations

import logging
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_ml_pipeline_spark import plugins  # noqa: F401  (registers built-ins)
from etl_ml_pipeline_spark.config import PipelineConfig, load_config
from etl_ml_pipeline_spark.registry import SINKS, SOURCES, TRANSFORMS
from etl_ml_pipeline_spark.state import StateManager

logger = logging.getLogger(__name__)


class PipelineEngine:
    def __init__(
        self,
        config: str | PipelineConfig,
        spark: SparkSession | None = None,
        inline_config: dict[str, Any] | None = None,
        state_path: str = ".pipeline_state.json",
    ) -> None:
        if isinstance(config, str):
            config = load_config(config, inline_config)
        self.config = config
        if spark is None:
            from etl_ml_pipeline_spark.session import get_spark

            spark = get_spark(app_name=config.pipeline.name)
        self.spark = spark
        self.state = StateManager(state_path)

    # ------------------------------------------------------------------
    def run(self, full_refresh: bool = False) -> DataFrame | None:
        """Execute the pipeline; returns the final (lazy) DataFrame, or
        ``None`` when the pipeline failed and ``on_failure`` is
        skip/warn (the failure is logged; callers can branch on None).

        If the pipeline has no ``load`` step the plan is returned without
        triggering an action (library/testing use, mirrors the reference's
        programmatic entry point used by its e2e tests).
        """
        cfg = self.config.pipeline
        settings = self.config.settings
        try:
            df, new_cursor, pin = self._with_retry(
                self._extract, settings.retry, stage="extract", full_refresh=full_refresh
            )
            df = self._apply_transforms(df)
            if cfg.load is not None:
                self._with_retry(self._load, settings.retry, stage="load", df=df)
            if cfg.incremental is not None and new_cursor is not None:
                # Commit the cursor (and the schema pin, in the same
                # write) only after a successful load
                self.state.stage_pin(cfg.name, pin)
                self.state.set(cfg.name, new_cursor)
            return df
        except Exception:
            if settings.on_failure == "abort":
                raise
            log = logger.warning if settings.on_failure == "warn" else logger.info
            log("pipeline '%s' failed; on_failure=%s -> continuing",
                cfg.name, settings.on_failure, exc_info=True)
            # Explicit None, not a sentinel empty frame: a frame with a
            # made-up schema is indistinguishable from real (empty) data
            # to programmatic callers; None makes the skipped/warned
            # outcome unmistakable.
            return None

    # ------------------------------------------------------------------
    def _extract(self, full_refresh: bool = False) -> tuple[DataFrame, Any, Any]:
        """The extracted frame, the new cursor (None: not incremental, or
        no new rows) and the schema pin to store beside it."""
        cfg = self.config.pipeline
        source_cls = SOURCES.get(cfg.extract.type)
        source = source_cls(self.spark, cfg.extract.config)

        cursor_value = None
        if cfg.incremental is not None:
            inc = cfg.incremental
            cursor_value = (
                inc.initial_value
                if full_refresh
                else self.state.get(cfg.name, inc.initial_value)
            )
            source.apply_cursor(cursor_value, inc.cursor_field, inc.cursor_param)
            if not full_refresh:
                source.apply_schema_pin(self.state.get_pin(cfg.name))

        with source:
            df = source.extract()

        new_cursor = pin = None
        if cfg.incremental is not None:
            # Reference semantics: cursor computed post-extract pre-transform
            # (engine.py:94-105) so row-dropping transforms can't shrink it.
            new_cursor = source.cursor_max(df, cfg.incremental.cursor_field, cursor_value)
            pin = source.schema_pin()
        return df, new_cursor, pin

    def _apply_transforms(self, df: DataFrame) -> DataFrame:
        for step in self.config.pipeline.transform:
            transform_cls = TRANSFORMS.get(step.type)
            transform = transform_cls(step.config)
            df = transform(df)  # validate() then transform(); still lazy
        return df

    def _load(self, df: DataFrame) -> None:
        step = self.config.pipeline.load
        assert step is not None
        sink_cls = SINKS.get(step.type)
        with sink_cls(self.spark, step.config) as sink:
            sink.load(df)

    # ------------------------------------------------------------------
    def _with_retry(self, fn, retry_cfg, stage: str, **kwargs):
        last_exc: Exception | None = None
        for attempt in range(1, retry_cfg.max_attempts + 1):
            try:
                return fn(**kwargs)
            except Exception as exc:  # noqa: BLE001 - deliberate broad retry
                last_exc = exc
                if attempt == retry_cfg.max_attempts:
                    break
                wait = retry_cfg.backoff_seconds * (2 ** (attempt - 1))
                logger.warning(
                    "%s attempt %d/%d failed (%s); retrying in %.1fs",
                    stage, attempt, retry_cfg.max_attempts, exc, wait,
                )
                time.sleep(wait)
        assert last_exc is not None
        raise last_exc
