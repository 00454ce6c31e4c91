"""CLI tests (E8 parity; reference tests/test_cli.py coverage model)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from etl_ml_pipeline_spark.__main__ import load_dotenv, main


def test_list_modules(capsys):
    assert main(["-l"]) == 0
    out = capsys.readouterr().out
    assert "sources:" in out and "transforms:" in out and "sinks:" in out
    for key in ("rest_api", "parquet", "data_cleaning", "sql_database"):
        assert f"  - {key}" in out


def test_missing_config_errors():
    with pytest.raises(SystemExit):
        main([])


def test_dotenv_loader(tmp_path, monkeypatch):
    env = tmp_path / ".env"
    env.write_text("# comment\nMY_KEY=abc\nQUOTED='q v'\nNOEQUALS\n")
    monkeypatch.delenv("MY_KEY", raising=False)
    monkeypatch.chdir(tmp_path)
    load_dotenv()
    import os

    assert os.environ["MY_KEY"] == "abc"
    assert os.environ["QUOTED"] == "q v"


def test_cli_runs_pipeline(tmp_path, monkeypatch, spark, sf_dir):
    """-c end-to-end: parquet -> cleaning -> json sink; then -f full refresh."""
    out_dir = tmp_path / "out"
    cfg = {
        "version": 1,
        "pipeline": {
            "name": "cli_e2e",
            "extract": {"type": "parquet", "config": {"path": f"{sf_dir}/region.parquet"}},
            "transform": [
                {"type": "data_cleaning", "config": {"lowercase_columns": True}}
            ],
            "load": {"type": "json_local", "config": {"path": str(out_dir), "mode": "overwrite"}},
            "incremental": {"cursor_field": "r_regionkey", "initial_value": -1},
        },
    }
    cfg_path = tmp_path / "pipeline.yaml"
    import yaml

    cfg_path.write_text(yaml.safe_dump(cfg))
    state = tmp_path / "state.json"
    monkeypatch.chdir(tmp_path)

    assert main(["-c", str(cfg_path), "--state-path", str(state)]) == 0
    rows = [
        json.loads(line)
        for f in Path(out_dir).glob("*.json")
        for line in f.read_text().splitlines()
    ]
    assert len(rows) == 5
    # cursor committed after load (engine.py:126-128 parity)
    assert json.loads(state.read_text())["cli_e2e"] == 4

    # second incremental run: cursor=4 filters everything out
    assert main(["-c", str(cfg_path), "--state-path", str(state)]) == 0
    rows2 = [
        json.loads(line)
        for f in Path(out_dir).glob("*.json")
        for line in f.read_text().splitlines()
    ]
    assert rows2 == []

    # full refresh ignores the stored cursor
    assert main(["-c", str(cfg_path), "--state-path", str(state), "-f"]) == 0
    rows3 = [
        json.loads(line)
        for f in Path(out_dir).glob("*.json")
        for line in f.read_text().splitlines()
    ]
    assert len(rows3) == 5


def test_example_configs_parse_and_run(tmp_path, monkeypatch, spark):
    """Shipped example configs are valid and the runnable ones execute."""
    from pathlib import Path

    import yaml

    from etl_ml_pipeline_spark.config import PipelineConfig
    from etl_ml_pipeline_spark.engine import PipelineEngine

    repo = Path(__file__).resolve().parent.parent
    configs = sorted((repo / "configs").glob("*.yaml"))
    assert len(configs) >= 4
    for cfg_path in configs:
        PipelineConfig.model_validate(yaml.safe_load(cfg_path.read_text()))

    # Spark resolves relative sink paths against the JVM cwd, so point
    # the outputs at tmp_path explicitly via inline_config overrides.
    for name, out in (
        ("clean_customers", tmp_path / "out1"),
        ("dedup_documents", tmp_path / "out2"),
        ("training_data_prep_v2", tmp_path / "out3"),
        ("cluster_embeddings", tmp_path / "out4"),
        ("training_data_prep_v3", tmp_path / "out5"),
        ("boilerplate_then_dedup", tmp_path / "out6"),
        ("semantic_dedup", tmp_path / "out7"),
        ("token_budget_mixture", tmp_path / "out8"),
        ("perplexity_gated_corpus", tmp_path / "out9"),
        ("url_dedup_corpus", tmp_path / "out10"),
        ("decontaminated_corpus", tmp_path / "out11"),
        ("ffd_packed_corpus", tmp_path / "out12"),
        ("preference_pairs", tmp_path / "out13"),
        ("mixture_reweighted_corpus", tmp_path / "out14"),
    ):
        engine = PipelineEngine(
            str(repo / "configs" / f"{name}.yaml"),
            spark=spark,
            inline_config={"pipeline": {"load": {"config": {"path": str(out)}}}},
            state_path=str(tmp_path / "state.json"),
        )
        engine.run()
        assert out.exists()


def test_query_catalog_counts():
    """Guard against silently-shrunken catalogs: a broken query-module
    import now raises (no blanket ImportError guard), and this pins the
    expected size so an accidental drop is a loud diff, not a quietly
    greener correctness run."""
    from etl_ml_pipeline_spark.queries import all_oracles, all_queries

    qs, oracles = all_queries(), all_oracles()
    assert len(qs) == 253, sorted(qs)
    assert len(oracles) == 253, sorted(oracles)
    # every catalog entry is oracle-checkable except the documented
    # rows-only set (non-SQL-expressible outputs — e.g. raw theta-sketch
    # estimates — each paired with an oracle-checked contract twin)
    from etl_ml_pipeline_spark.queries import ROWS_ONLY

    assert set(qs) - set(oracles) == set(ROWS_ONLY)
    # CATALOG.md must document exactly the live catalog (VERDICT r07 #1:
    # two rounds shipped a doc/catalog drift from a late addition)
    import re
    from pathlib import Path

    doc = (Path(__file__).resolve().parents[1] / "CATALOG.md").read_text()
    doc_names = re.findall(r"^\|\s*\d+\s*\|\s*`([^`]+)`", doc, re.M)
    assert sorted(doc_names) == sorted(qs)


def test_query_emission_triage_order(tmp_path, monkeypatch):
    """Each round's correctness run records a 50-name prefix of
    queries(), and no recorded name may go more than MAX_STALE rounds
    without a fresh record. Emission order is derived from the committed
    CORRECTNESS_r*.json files, so these properties hold for whatever
    records are on disk, including ones later rounds write."""
    import shutil

    from etl_ml_pipeline_spark import queries
    from etl_ml_pipeline_spark.queries import (
        MAX_STALE,
        all_queries,
        emission_keys,
        last_recorded,
    )

    names = list(all_queries())
    latest, last = last_recorded()
    assert latest >= 1, "no CORRECTNESS_r*.json at the repo root"
    # every recorded name is still in the catalog (no stale entries)
    assert set(last) <= set(names)
    # the order is non-decreasing in the derived key, newest record last
    key = emission_keys(names)
    assert [key[n] for n in names] == sorted(key.values())
    assert key[names[-1]] == latest
    # every name due at the next record leads, then the never-recorded
    due = [n for n in names if n in last and latest + 1 - last[n] > MAX_STALE]
    unrecorded = [n for n in names if n not in last]
    assert names[: len(due)] == due
    assert names[len(due) : len(due) + len(unrecorded)] == unrecorded
    # simulate the next 2 * MAX_STALE rounds, each recording the emitted
    # 50-name prefix: no name ever exceeds the bound, and none starves
    for path in queries._RECORDS_DIR.glob("CORRECTNESS_r*.json"):
        shutil.copy(path, tmp_path)
    monkeypatch.setattr(queries, "_RECORDS_DIR", tmp_path)
    for rnd in range(latest + 1, latest + 1 + 2 * MAX_STALE):
        prefix = list(all_queries())[:50]
        record = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
        record.write_text(json.dumps(dict.fromkeys(prefix, {})))
        _, last = last_recorded()
        stale = {n: rnd - r for n, r in last.items() if rnd - r > MAX_STALE}
        assert not stale, (rnd, stale)
    assert set(last) == set(names)


def test_emission_keys_from_records(tmp_path):
    """Pins the derivation on tiny synthetic records: a due name, a tie
    kept in module order, a red row, a never-recorded name, a recorded
    name no longer in the catalog, and the no-records case."""
    from etl_ml_pipeline_spark.queries import emission_keys

    names = ["e", "d", "c", "b", "f", "a"]
    key = emission_keys(names, tmp_path)
    assert len(set(key.values())) == 1
    assert sorted(names, key=key.get) == names
    green = {"hash_match": True}
    records = {
        1: {"a": green, "b": green, "c": green},
        2: {"b": green, "f": green},
        6: {"c": {"hash_match": False}, "e": green},
        7: {"e": green, "gone": green},
    }
    for rnd, rows in records.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    key = emission_keys(names, tmp_path)
    # latest = 7: a and b are due at r08, d (never recorded) sits at 2.5
    assert key == {"e": 7, "d": 2.5, "c": 6, "b": 2, "f": 2, "a": 1}
    assert sorted(names, key=key.get) == ["a", "b", "f", "d", "c", "e"]


def test_precommit_check_passes():
    """The catalog-consistency gate is import-only (no JVM), so the
    suite runs it as is: pins, CATALOG.md, oracle and sf1 coverage,
    emission order, staleness and README must all agree."""
    import os
    import subprocess
    import sys

    repo = Path(__file__).resolve().parents[1]
    env = {k: v for k, v in os.environ.items() if k != "PRECOMMIT_SKIP"}
    res = subprocess.run(
        [sys.executable, str(repo / "scripts" / "precommit_check.py")],
        capture_output=True,
        text=True,
        env=env,
    )
    assert res.returncode == 0, res.stderr
    assert "precommit_check: OK" in res.stdout


_REPO = Path(__file__).resolve().parents[1]
_SF0001 = "/root/testdata/sf0.001"


def _run_script(*argv: str):
    import subprocess
    import sys

    return subprocess.run(
        [sys.executable, str(_REPO / "scripts" / argv[0]), *argv[1:]],
        capture_output=True, text=True, cwd=_REPO,
    )


def test_diff_script_two_names(tmp_path):
    out = tmp_path / "diff.json"
    sf1_record = (_REPO / "scripts" / "sf1_diff.json").read_bytes()
    res = _run_script("diff.py", _SF0001, "--only",
                      "q1_pricing_summary,q6_forecast_revenue", "--out", str(out))
    assert res.returncode == 0, res.stderr[-3000:]
    assert "entry rows:" in res.stdout
    assert "oracle fails: none (2 compared)" in res.stdout
    record = json.loads(out.read_text())
    assert record["summary"]["n_fail"] == 0 and record["summary"]["nproc"] >= 1
    row = record["results"][_SF0001]["q6_forecast_revenue"]
    assert row["ok"] and row["sf_dir"] == _SF0001 and row["nproc"] >= 1
    # Only a run over .sf1 may touch the sf1 record.
    assert (_REPO / "scripts" / "sf1_diff.json").read_bytes() == sf1_record


def test_ab_script_same_code_recheck():
    import subprocess

    def worktrees() -> str:
        return subprocess.run(["git", "-C", str(_REPO), "worktree", "list"],
                              capture_output=True, text=True).stdout

    head = subprocess.run(["git", "-C", str(_REPO), "rev-parse", "HEAD"],
                          capture_output=True, text=True)
    if head.returncode:
        pytest.skip("not a git checkout")
    before = worktrees()
    res = _run_script("ab.py", "HEAD", "q6_forecast_revenue", "--sf", _SF0001,
                      "--pairs", "1")
    assert res.returncode == 0, res.stderr[-3000:]
    record = json.loads(res.stdout.splitlines()[-1])
    row = record["results"]["q6_forecast_revenue"]
    assert row["rows_equal"] and row["rows"] == {"old": 1, "new": 1}
    assert [len(p) for p in row["old"]] == [len(p) for p in row["new"]] == [3]
    assert row["new_wins"] in (0, 1) and record["nproc"] >= 1
    assert worktrees() == before


def test_ab_script_rejects_zero_pairs():
    res = _run_script("ab.py", "HEAD", "--pairs", "0")
    assert res.returncode == 2 and "needs at least 1 pair" in res.stderr


def test_list_modules_surfaces_unavailable(monkeypatch):
    """Optional-module import failures must be visible in the registry
    dump, not silently absent. (In this container every optional module
    import-gates its dependency internally, so the real list is empty —
    simulate a failure to exercise the surfacing path.)"""
    from etl_ml_pipeline_spark import plugins
    from etl_ml_pipeline_spark.registry import list_registered

    assert list_registered()["unavailable"] == []
    monkeypatch.setattr(
        plugins,
        "_OPTIONAL_IMPORT_ERRORS",
        {"etl_ml_pipeline_spark.sources.playwright_scraper": "No module named 'playwright'"},
    )
    reg = list_registered()
    assert any("playwright" in entry for entry in reg["unavailable"])


def test_bench_tail_fits_2000_chars():
    """VERDICT r15 ask #2: the driver's bench record keeps only the
    LAST 2000 chars of stdout — the per-query medians line plus the
    summary line must BOTH fit inside that tail or PERF.per_query comes
    back empty. Simulate worst-case widths (999.999s medians for every
    live headline name) and assert the two compact lines json-parse
    from a 2000-char truncation."""
    import bench as bench_mod

    timings = {n: 999.999 for n in bench_mod.HEADLINE}
    perq = json.dumps(
        {"metric": "headline_per_query", "queries": timings, "sf": 0.1, "cores": 999},
        separators=(",", ":"),
    )
    summary = json.dumps(
        {
            "metric": "headline_summary",
            "value": 99999.999,
            "unit": "sec",
            "headline_n": len(timings),
            "value_22q": 99999.999,
            "value_22q_members": "HEADLINE[:22] frozen pre-round-5",
            "cold_value": 99999.999,
            "cpu_probe_sec": 9.999,
            "value_22q_per_probe": 99999.999,
            "sf": 0.1,
            "cores": 999,
        },
        separators=(",", ":"),
    )
    stdout_tail = ("x" * 5000 + "\n" + perq + "\n" + summary + "\n")[-2000:]
    lines = [ln for ln in stdout_tail.splitlines() if ln.startswith("{")]
    assert len(lines) >= 2, (
        f"per-query + summary lines exceed the 2000-char tail "
        f"(perq={len(perq)} summary={len(summary)}); shrink the "
        f"per-query line (bench.py falls back to the 22q subset)"
    )
    parsed = [json.loads(ln) for ln in lines[-2:]]
    assert parsed[0]["metric"] == "headline_per_query"
    assert set(parsed[0]["queries"]) == set(bench_mod.HEADLINE)
    assert parsed[1]["metric"] == "headline_summary"
