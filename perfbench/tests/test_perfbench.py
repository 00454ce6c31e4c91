"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The last two tests start Spark (about a minute in all).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parents[1]
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import gen  # noqa: E402

SMALL = {"customer": 60, "supplier": 10, "part": 80, "orders": 300,
         "events": 200, "documents": 80, "embeddings": 40}


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _write_all(seed: int, root: Path) -> dict[str, bytes]:
    gen.write_catalog_tables(seed, root / "tables", SMALL)
    gen.write_corpus(seed, root / "corpus", {"documents": 40, "embeddings": 20, "replicas": 4})
    for k, batch in enumerate(gen.upsert_batches(seed, 3, 50, 0.2), start=1):
        gen.write_batch(batch, root / "batches" / f"batch_{k}.parquet")
    return _files(root)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write_all(5, tmp_path / "a")
    b = _write_all(5, tmp_path / "b")
    c = _write_all(6, tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[name] != c[name] for name in a if not name.startswith("tables/region")
               and not name.startswith("tables/nation"))


def test_corpus_replicas_shift_keys_and_suffix_text(tmp_path):
    rows = gen.write_corpus(3, tmp_path, {"documents": 40, "embeddings": 20, "replicas": 4})
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    assert rows == {"documents": 40, "embeddings": 20}
    assert docs["doc_id"].is_unique
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    base = docs[docs["doc_id"] < 10].set_index("doc_id")["text"]
    replica = docs[(docs["doc_id"] >= 10) & (docs["doc_id"] < 20)].set_index("doc_id")["text"]
    for i, text in base.items():
        assert replica[i + 10].startswith(text + " r")


def test_expected_upsert_on_three_batch_toy():
    b1 = pd.DataFrame({"o_orderkey": [1, 2, 3], "o_totalprice": [10.0, 20.0, 30.0], "batch_seq": 1})
    b2 = pd.DataFrame({"o_orderkey": [4, 2], "o_totalprice": [40.0, 21.0], "batch_seq": 2})
    b3 = pd.DataFrame({"o_orderkey": [5, 2, 1], "o_totalprice": [50.0, 22.0, 11.0], "batch_seq": 3})
    got = gen.expected_upsert([b1, b2, b3])
    assert got["o_orderkey"].tolist() == [1, 2, 3, 4, 5]
    assert got["o_totalprice"].tolist() == [11.0, 22.0, 30.0, 40.0, 50.0]
    assert got["batch_seq"].tolist() == [3, 3, 1, 2, 3]


def test_upsert_batches_shape():
    batches = gen.upsert_batches(9, 3, 50, 0.2)
    seen: set[int] = set()
    for k, batch in enumerate(batches, start=1):
        keys = batch["o_orderkey"]
        assert keys.is_unique
        assert (batch["batch_seq"] == k).all()
        new = set(keys) - seen
        assert len(new) == 50
        assert len(keys) - len(new) == (0 if k == 1 else 10)
        seen |= set(keys)


def test_steal_share_counts_only_busy_and_steal():
    import run

    base = [0] * 10
    # user nice system idle iowait irq softirq steal guest guest_nice
    assert run.steal_share(base, [60, 0, 15, 500, 9, 0, 0, 0, 0, 0]) == 0.0
    assert run.steal_share(base, [60, 0, 15, 500, 9, 0, 0, 25, 0, 0]) == 0.25
    assert run.steal_share(base, [0, 0, 0, 500, 0, 0, 0, 0, 0, 0]) == 0.0


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metric_names_match_benchmark_json(trace, section):
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "incremental_upsert",
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = _last_json(proc.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench[section]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_timed_region_makes_no_span_or_status_store_call(tmp_path, monkeypatch):
    import run
    import tracing
    from workloads import IncrementalUpsert

    def refuse(*_a, **_k):
        raise AssertionError("tracing call in the plain run")

    monkeypatch.setattr(tracing.Tracer, "span", refuse)
    monkeypatch.setattr(tracing.Tracer, "__init__", refuse)
    monkeypatch.setattr(tracing.SparkProbe, "__init__", refuse)
    monkeypatch.setattr(tracing.SparkProbe, "pass_metrics", refuse)
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    spec = {"config": "incremental_orders_upsert", "batches": 2,
            "new_keys_per_batch": 50, "reemit_share": 0.2}
    wl = IncrementalUpsert(spec, tmp_path)
    wl.prepare(1)
    r = run.Run(wl, seconds=0.0)
    spark = r.set_up(2, tmp_path / "tmp")
    try:
        r.measure(spark)
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    finally:
        spark.stop()
    assert r.errors == [] and r.failed == 0
    assert r.attempted == 2 * (1 + run.SPEC["warmup_passes"] + run.SPEC["min_passes"])


def test_oracle_params_match_the_configs():
    import yaml

    import oracles

    spec = json.loads((HERE / "spec.json").read_text())
    for name in spec["workloads"]["corpus_pipelines"]["configs"]:
        raw = yaml.safe_load((REPO / "configs" / f"{name}.yaml").read_text())
        oracles.check_params(name, raw["pipeline"]["transform"])
    with pytest.raises(ValueError):
        oracles.check_params("dedup_documents", [{"type": "dedup_exact", "config": {"text_col": "body"}}])


def test_dedup_oracle_keeps_lowest_id_per_normalized_text(tmp_path):
    import oracles

    docs = pd.DataFrame({
        "doc_id": [5, 2, 9, 7],
        "text": ["a b", " A  b", "c", "a b "],
        "lang": ["en"] * 4, "source": ["s"] * 4, "n_chars": [3, 5, 1, 4],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    gen.embeddings(gen.np.random.default_rng(0), 4).to_pandas().to_parquet(tmp_path / "embeddings.parquet")
    got = oracles.expected("dedup_documents", tmp_path)
    assert sorted(got["doc_id"]) == [2, 9]
