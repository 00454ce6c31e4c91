"""The benchmark's workloads.

A workload is a fixed list of items run once per pass:

* ``corpus_pipelines`` - one item per document/embedding pipeline
  config, each a full ``PipelineEngine.run()`` from config to a
  committed parquet sink;
* ``incremental_upsert`` - one item per landing batch, each an
  incremental ``PipelineEngine.run()`` (cursor on ``batch_seq``) that
  upserts into SQLite and commits the cursor;
* ``catalog_headline`` - one item per headline catalog query, built and
  fully collected to the driver with ``toPandas()``.

``run_item`` is the only timed call. Everything else (input generation,
landing a batch, reading outputs back, checks) runs outside the timed
region. With a ``tracer`` the item runs under spans and the traced
engine; without one it makes no tracing call at all.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sqlite3
from pathlib import Path
from typing import Any

import pyarrow.parquet as pq
import yaml

import gen
import oracles

REPO = Path(__file__).resolve().parents[1]
CONFIGS = REPO / "configs"


def _dir_bytes(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _read_back(path: Path):
    """A sink's output as pandas, in the cell forms the oracle compares."""
    return oracles.plain_cells(pq.read_table(path).to_pandas())


class Workload:
    name = ""
    items: list[str] = []

    def __init__(self, spec: dict[str, Any], work: Path) -> None:
        self.spec = spec
        self.work = work
        self.engine_cls = None  # set by the runner: PipelineEngine or its traced subclass

    def prepare(self, seed: int) -> None:
        """Generate inputs and expected outputs; runs before Spark starts."""

    def first_action(self, spark) -> None:
        """The first Spark action of set-up."""

    def begin_pass(self) -> None:
        """Reset state a pass starts from (untimed)."""

    def stage_item(self, item: str) -> None:
        """Untimed step right before an item (e.g. land its batch)."""

    def run_item(self, spark, item: str, tracer) -> int:
        """The timed call. Returns the rows it processed."""
        raise NotImplementedError

    def check_item(self, item: str) -> bool:
        """True if the item's output is correct (untimed)."""
        return True

    def end_pass(self) -> list[str]:
        """Check a finished pass; return the items whose output is wrong."""
        return []

    def layer_counts(self) -> dict[str, float]:
        """Counts taken at the benchmark's side of the last pass."""
        return {}

    def _engine_run(self, spark, config: str, inline: dict, state: Path, tracer) -> None:
        if tracer is None:
            df = self.engine_cls(config, spark=spark, inline_config=inline, state_path=str(state)).run()
        else:
            with tracer.span("engine.run"):
                df = self.engine_cls(config, spark=spark, inline_config=inline, state_path=str(state)).run()
        if df is None:  # on_failure skip/warn: the engine swallowed a failure
            raise RuntimeError(f"pipeline {config} failed")


class CorpusPipelines(Workload):
    name = "corpus_pipelines"

    def __init__(self, spec, work) -> None:
        super().__init__(spec, work)
        self.items = list(spec["configs"])
        self.inputs = work / "inputs"
        self.out = work / "out"
        self.inline: dict[str, dict] = {}
        self.input_rows: dict[str, int] = {}
        self.expected: dict[str, tuple] = {}
        self._written = (0, 0)

    def prepare(self, seed: int) -> None:
        from etl_ml_pipeline_spark.oracle import value_hash

        rows = gen.write_corpus(seed, self.inputs, self.spec["inputs"])
        for name in self.items:
            raw = yaml.safe_load((CONFIGS / f"{name}.yaml").read_text())
            pipe = raw["pipeline"]
            table = Path(pipe["extract"]["config"]["path"]).stem
            src = str(self.inputs / f"{table}.parquet")
            self.input_rows[name] = rows[table]
            transforms = copy.deepcopy(pipe.get("transform", []))
            oracles.check_params(name, transforms)
            for step in transforms:
                if step["type"] == "psi_gate":
                    step["config"]["reference_path"] = str(self.inputs / "documents.parquet")
            self.inline[name] = {
                "pipeline": {
                    "extract": {"config": {"path": src}},
                    "transform": transforms,
                    "load": {"config": {"path": str(self.out / name)}},
                }
            }
            want = oracles.expected(name, self.inputs)
            self.expected[name] = (sorted(want.columns), len(want), value_hash(want))

    def first_action(self, spark) -> None:
        spark.read.parquet(str(self.inputs / "documents.parquet")).count()

    def run_item(self, spark, item: str, tracer) -> int:
        self._engine_run(spark, str(CONFIGS / f"{item}.yaml"), self.inline[item],
                         self.work / "state.json", tracer)
        return self.input_rows[item]

    def end_pass(self) -> list[str]:
        """Items whose sink output differs from the DuckDB oracle. Every
        pass is compared, so an output that changes between passes fails."""
        from etl_ml_pipeline_spark.oracle import value_hash

        wrong, rows, size = [], 0, 0
        for item in self.items:
            pdf = _read_back(self.out / item)
            if (sorted(pdf.columns), len(pdf), value_hash(pdf)) != self.expected[item]:
                wrong.append(item)
            rows += len(pdf)
            size += _dir_bytes(self.out / item)
        self._written = (rows, size)
        return wrong

    def layer_counts(self) -> dict[str, float]:
        rows, size = self._written
        return {"sinks.rows_written": rows, "sinks.bytes_written": size}


class IncrementalUpsert(Workload):
    name = "incremental_upsert"

    def __init__(self, spec, work) -> None:
        super().__init__(spec, work)
        self.n_batches = int(spec["batches"])
        self.items = [f"batch_{k:02d}" for k in range(1, self.n_batches + 1)]
        self.batch_dir = work / "batches"
        self.landing = work / "landing"
        self.db = work / "orders.db"
        self.state = work / "state.json"
        self.config = str(CONFIGS / f"{spec['config']}.yaml")
        self.inline = {
            "pipeline": {
                "name": "incremental_orders",
                "extract": {"config": {"path": str(self.landing)}},
                "load": {"config": {"database": str(self.db)}},
                "incremental": {"cursor_field": "batch_seq", "initial_value": 0},
            }
        }
        self.batch_rows: dict[str, int] = {}
        self.expected = None

    def prepare(self, seed: int) -> None:
        batches = gen.upsert_batches(
            seed, self.n_batches, int(self.spec["new_keys_per_batch"]), float(self.spec["reemit_share"])
        )
        for item, batch in zip(self.items, batches):
            gen.write_batch(batch, self.batch_dir / f"{item}.parquet")
            self.batch_rows[item] = len(batch)
        self.expected = gen.expected_upsert(batches)

    def first_action(self, spark) -> None:
        spark.read.parquet(str(self.batch_dir / f"{self.items[0]}.parquet")).count()

    def begin_pass(self) -> None:
        shutil.rmtree(self.landing, ignore_errors=True)
        self.landing.mkdir(parents=True)
        for path in (self.db, self.state):
            path.unlink(missing_ok=True)

    def stage_item(self, item: str) -> None:
        os.link(self.batch_dir / f"{item}.parquet", self.landing / f"{item}.parquet")

    def run_item(self, spark, item: str, tracer) -> int:
        self._engine_run(spark, self.config, self.inline, self.state, tracer)
        return self.batch_rows[item]

    def end_pass(self) -> list[str]:
        with sqlite3.connect(self.db) as con:
            got = con.execute(
                "SELECT o_orderkey, o_custkey, o_totalprice, batch_seq FROM orders ORDER BY o_orderkey"
            ).fetchall()
        exp = self.expected
        want = list(zip(exp["o_orderkey"].tolist(), exp["o_custkey"].tolist(),
                        exp["o_totalprice"].tolist(), exp["batch_seq"].tolist()))
        cursor = json.loads(self.state.read_text()).get("incremental_orders")
        return [] if got == want and cursor == self.n_batches else [self.items[-1]]

    def layer_counts(self) -> dict[str, float]:
        rows = sum(self.batch_rows.values())
        return {
            "sinks.rows_written": rows,
            "sinks.bytes_written": _dir_bytes(self.db),
            "useful_rows": rows,
        }


class CatalogHeadline(Workload):
    name = "catalog_headline"

    def __init__(self, spec, work) -> None:
        super().__init__(spec, work)
        from bench import HEADLINE

        missing = [q for q in spec["queries"] if q not in HEADLINE]
        if missing:
            raise ValueError(f"not in bench.HEADLINE: {missing}")
        self.items = list(spec["queries"])
        self.tables = work / "tables"
        self.expected: dict[str, tuple] = {}
        self.results: dict[str, Any] = {}
        self.queries = None

    def prepare(self, seed: int) -> None:
        from etl_ml_pipeline_spark.oracle import duckdb_connect, value_hash
        from etl_ml_pipeline_spark.queries import all_oracles

        gen.write_catalog_tables(seed, self.tables, self.spec["inputs"])
        sql = all_oracles()
        with duckdb_connect(str(self.tables)) as con:
            for q in self.items:
                pdf = con.sql(sql[q]).df()
                self.expected[q] = (sorted(pdf.columns), len(pdf), value_hash(pdf))

    def first_action(self, spark) -> None:
        from etl_ml_pipeline_spark.queries import all_queries

        self.queries = all_queries()
        spark.read.parquet(str(self.tables / "lineitem.parquet")).count()

    def begin_pass(self) -> None:
        self.results = {}

    def run_item(self, spark, item: str, tracer) -> int:
        if tracer is None:
            pdf = self.queries[item](spark, str(self.tables)).toPandas()
        else:
            with tracer.span("queries.build"):
                df = self.queries[item](spark, str(self.tables))
            with tracer.span("queries.collect"):
                pdf = df.toPandas()
        self.results[item] = pdf
        return len(pdf)

    def check_item(self, item: str) -> bool:
        from etl_ml_pipeline_spark.oracle import value_hash

        pdf = self.results[item]
        return (sorted(pdf.columns), len(pdf), value_hash(pdf)) == self.expected[item]

    def layer_counts(self) -> dict[str, float]:
        size = sum(int(p.memory_usage(deep=True).sum()) for p in self.results.values())
        return {"queries.result_bytes": size}


WORKLOADS = {w.name: w for w in (CorpusPipelines, IncrementalUpsert, CatalogHeadline)}

