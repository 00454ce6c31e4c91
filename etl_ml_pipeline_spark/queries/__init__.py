"""Named query catalog: every engine operator exposed as a (Spark, oracle-SQL) pair.

Each submodule defines ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
and ``ORACLES: dict[str, str]`` (DuckDB-runnable ANSI SQL over the same parquet
tables). The driver (and our own tests) run both sides and compare
row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- doubles are rounded in each query, ``F.round`` on the Spark side and
  ``round`` in its oracle SQL, so both engines produce bit-identical values;
- queries whose semantics SQL cannot express (recursive EWMAs, LSH
  bucketing with library hashes) appear in QUERIES only -> rows-only check.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Catalog entries that are QUERIES-only by design (the driver records a
# rows+schema check, no DuckDB value hash): outputs that a SQL engine
# genuinely cannot reproduce. Every name here must pair with an
# oracle-checked CONTRACT twin that pins the same operator's semantics.
# Emptied in round 13: sketch_theta_overlap_matrix (the last member)
# now folds its estimates into error-contract booleans the oracle pins
# literally TRUE (VERDICT r12 #4) — the whole catalog is recordable
# (count pinned live by scripts/precommit_check.py, not repeated here).
ROWS_ONLY = frozenset()

_MODULES = (
    "relational",
    "subqueries",
    "tpch_extra",
    "windows",
    "cleaning_q",
    "timeseries",
    "text_q",
    "dedup_q",
    "graph_q",
    "similarity_q",
    "sampling_q",
    "ml_q",
    "asof_q",
    "skew_q",
    "prune_q",
    "analytics_q",
    "batteries",
    "url_q",
    "pipeline_q",
)

# Each round's correctness run records a 50-name prefix of ``queries()``
# (CORRECTNESS_rNN.json at the repo root), and no recorded name
# may go more than MAX_STALE rounds without a fresh record. Emission order
# is derived from those records so the prefix always holds the names that
# fall due next; no table here needs a hand edit after a round.
MAX_STALE = 5
_RECORDS_DIR = Path(__file__).resolve().parents[2]


def last_recorded(
    records_dir: Path | None = None,
) -> tuple[int, dict[str, int]]:
    """The newest round on disk (0 if none) and, per name, the newest round
    whose record has it as a key. Red rows count: this tracks recency.
    ``records_dir`` defaults to the repo root."""
    latest, last = 0, {}
    for path in Path(records_dir or _RECORDS_DIR).glob("CORRECTNESS_r*.json"):
        if m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name):
            rnd = int(m.group(1))
            latest = max(latest, rnd)
            for name in json.loads(path.read_text()):
                last[name] = max(last.get(name, 0), rnd)
    return latest, last


def emission_keys(
    names: Iterable[str], records_dir: Path | None = None
) -> dict[str, float]:
    """Sort key per name: the newest round that recorded it. A name never
    recorded gets ``latest - MAX_STALE + 0.5``: just behind the names the
    next record must refresh, ahead of everything else. With no records at
    all every key is equal, so a stable sort keeps module order."""
    latest, last = last_recorded(records_dir)
    return {n: last.get(n, latest - MAX_STALE + 0.5) for n in names}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _MODULES:
        mod = _load(name)
        for k, v in getattr(mod, "QUERIES", {}).items():
            if k in out:
                raise ValueError(f"duplicate query name {k!r} in {name}")
            out[k] = v
    # Stable sort: ties (and a checkout with no records) keep module order.
    keys = emission_keys(out)
    return {k: out[k] for k in sorted(out, key=keys.__getitem__)}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for name in _MODULES:
        mod = _load(name)
        out.update(getattr(mod, "ORACLES", {}))
    return out


def _load(name: str):
    """Import a catalog module, loudly. No ImportError guard: every
    query module is core, and a swallowed import error would silently
    drop queries AND their oracles — the correctness harness then shows
    green on a shrunken catalog (this bit us once; see plugins.py)."""
    import importlib

    return importlib.import_module(f"etl_ml_pipeline_spark.queries.{name}")
