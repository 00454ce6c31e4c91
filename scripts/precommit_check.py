"""Fast catalog-consistency gate: run ``python scripts/precommit_check.py``
before committing a catalog change (tests/test_cli.py runs it too).

Rounds 6 and 7 both shipped a red pytest for the same reason: a final
commit registered a new catalog query without bumping the count pin in
tests/test_cli.py (VERDICT r07 ask #1). This check makes that drift a
failed commit instead of a failed round. It is import-only (no Spark
JVM, no JDBC) so it runs in a couple of seconds:

1. live catalog size == the ``len(qs) == N`` pin in tests/test_cli.py;
2. CATALOG.md data-row count == live catalog size (and its names match);
3. every query has an oracle entry or is a documented rows-only check;
4. emission order is non-decreasing in ``queries.emission_keys``;
5. every query has a green row in scripts/sf1_diff.json;
6. after the next simulated 50-name record, no recorded name is more than
   ``queries.MAX_STALE`` rounds stale (rounds from ``queries.last_recorded``,
   which reads the CORRECTNESS_r*.json records);
7. README.md's "N named queries" line matches the live catalog;
8. no round-stamped ``r<N>_*.py`` script, no script but ``_common.py``
   calls ``get_spark``, and only ``etl_ml_pipeline_spark/session.py``
   sets session policy: no other code (comments and docstrings aside) in
   scripts/, bench.py or the package names ``SparkSession.builder``,
   ``local[``, ``spark.driver.memory`` or the two sizing env variables;
9. one two-phase prefix primitive: no package module but
   ``operators/relational.py`` names ``_ranged_with_pid`` in its code
   (call ``grouped_running_sum`` instead of re-assembling it);
10. one ANN rerank core: no package module but
   ``operators/similarity.py`` calls ``mmr_select(`` or defines a cosine
   clamp in its code (call ``mmr_rerank`` / ``cos_clamped`` instead);
11. one nearest-rank cut and one largest-remainder quota: no package
   module but ``operators/relational.py`` holds a nearest-rank cut
   string (``__total + <int>) div``) or a largest-remainder remainder
   (``(total * w) % wt``) in its code (call ``nearest_rank_cuts`` /
   ``nearest_rank_percentiles`` / ``largest_remainder`` instead).

Escape hatch for genuinely unrelated emergency commits:
``PRECOMMIT_SKIP=1 python scripts/precommit_check.py``.
"""

from __future__ import annotations

import ast
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _code(src: str) -> str:
    """``src`` without its comments and docstrings."""
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            node.value = ast.Constant(None)
    return ast.unparse(tree)


def fail(msg: str) -> None:
    print(f"precommit_check: FAIL — {msg}", file=sys.stderr)
    print(
        "precommit_check: fix the catalog/pin/CATALOG.md together "
        "(scripts/gen_catalog.py regenerates the doc), or bypass with "
        "PRECOMMIT_SKIP=1 for an unrelated emergency commit.",
        file=sys.stderr,
    )
    sys.exit(1)


def main() -> None:
    if os.environ.get("PRECOMMIT_SKIP") == "1":
        print("precommit_check: skipped via PRECOMMIT_SKIP=1")
        return

    from etl_ml_pipeline_spark.queries import (
        MAX_STALE,
        all_oracles,
        all_queries,
        emission_keys,
        last_recorded,
    )

    qs, oracles = all_queries(), all_oracles()

    # 1. pins in tests/test_cli.py (queries and oracles separately —
    # they differ by the documented rows-only set)
    test_src = (REPO / "tests" / "test_cli.py").read_text()
    for var, want in (("qs", len(qs)), ("oracles", len(oracles))):
        pins = re.findall(rf"len\({var}\) == (\d+)", test_src)
        if not pins:
            fail(f"no len({var}) pin found in tests/test_cli.py")
        for p in pins:
            if int(p) != want:
                fail(
                    f"live {var} count is {want} but tests/test_cli.py "
                    f"pins {p} — bump the pin in the same commit"
                )

    # 2. CATALOG.md rows
    cat_names = re.findall(
        r"^\|\s*\d+\s*\|\s*`([^`]+)`", (REPO / "CATALOG.md").read_text(), re.M
    )
    if len(cat_names) != len(qs) or set(cat_names) != set(qs):
        missing = sorted(set(qs) - set(cat_names))
        extra = sorted(set(cat_names) - set(qs))
        fail(
            f"CATALOG.md documents {len(cat_names)} queries, catalog has "
            f"{len(qs)} (missing={missing}, stale={extra}) — rerun "
            "scripts/gen_catalog.py"
        )

    # 3. oracle coverage: rows-only queries are allowed ONLY when
    # documented in queries.ROWS_ONLY (non-SQL-expressible outputs with
    # an oracle-checked contract twin)
    from etl_ml_pipeline_spark.queries import ROWS_ONLY

    rows_only = set(qs) - set(oracles)
    if rows_only != set(ROWS_ONLY):
        fail(
            f"rows-only queries {sorted(rows_only)} != documented "
            f"ROWS_ONLY {sorted(ROWS_ONLY)}"
        )

    # 4. triage order sanity
    keys = emission_keys(qs)
    tiers = [keys[k] for k in qs]
    if tiers != sorted(tiers):
        fail("emission triage order violated (keys not non-decreasing)")

    # 5. sf1-differential coverage (VERDICT r08 ask #2): every catalog
    # query must have a row in scripts/sf1_diff.json. A new query
    # closes its gap incrementally with
    #   python scripts/diff.py .sf1 --only NAME
    # in the same commit that registers it.
    import json

    sf1 = json.loads((REPO / "scripts" / "sf1_diff.json").read_text())
    sf1_names = set(sf1["results"])
    uncovered = sorted(set(qs) - sf1_names)
    if uncovered:
        fail(
            f"sf1_diff.json is missing {uncovered} — run "
            f"'python scripts/diff.py .sf1 --only {','.join(uncovered)}' "
            "and commit the updated json alongside the catalog change"
        )
    # A present-but-red row is as bad as a missing one (an sf1 run
    # against a stale/absent .sf1 dir records ok=False in ~0.1s per
    # name — regenerate with scripts/make_sf1.py and re-run --only).
    sf1_red = sorted(n for n in qs if not sf1["results"][n].get("ok"))
    if sf1_red:
        fail(
            f"sf1_diff.json has ok=false for {sf1_red} — regenerate .sf1 "
            "(scripts/make_sf1.py) if absent, then "
            f"'python scripts/diff.py .sf1 --only {','.join(sf1_red)}'"
        )

    # 6. staleness contract (VERDICT r09 ask #4): simulate the next
    # driver record — the first PREFIX names in emission order get a
    # fresh row — then fail if any already-recorded name would end up
    # >MAX_STALE rounds stale. The next record is the newest on disk + 1.
    PREFIX = 50
    latest, last = last_recorded()
    if latest:
        next_round = latest + 1
        fresh = set(list(qs)[:PREFIX])
        overdue = sorted(
            (name, rnd)
            for name, rnd in last.items()
            if name in qs and name not in fresh and next_round - rnd > MAX_STALE
        )
        if overdue:
            fail(
                f"staleness contract broken: after the simulated round-"
                f"{next_round} record ({PREFIX}-name prefix), these names "
                f"exceed {MAX_STALE} rounds stale: {overdue} — more names are "
                f"due than the {PREFIX}-name prefix holds"
            )

    # 7. README catalog-count pin (VERDICT r13 ask #3): README.md's
    # "N named queries" line must match the live catalog so the first
    # doc a reader opens can never drift again (it said 237 at 239).
    readme = (REPO / "README.md").read_text()
    readme_pins = re.findall(r"(\d+) named queries", readme)
    if not readme_pins:
        fail("README.md no longer contains the 'N named queries' line")
    for p in readme_pins:
        if int(p) != len(qs):
            fail(
                f"README.md says {p} named queries but the live catalog "
                f"has {len(qs)} — true up README.md in the same commit"
            )

    # 8. one tool per job in scripts/ (a new measurement is a flag on
    # diff/ab/sweep/dump_plans, not a round-stamped copy), and one
    # session policy: session.py alone sizes and configures a session.
    scripts = sorted((REPO / "scripts").glob("*.py"))
    package = sorted((REPO / "etl_ml_pipeline_spark").rglob("*.py"))
    exempt = {REPO / "etl_ml_pipeline_spark" / "session.py", Path(__file__).resolve()}
    for path in [*scripts, REPO / "bench.py", *package]:
        rel = path.relative_to(REPO)
        if path in scripts and re.match(r"r\d+_", path.name):
            fail(f"{rel} is round-stamped — fold it into a tool")
        if path in exempt:
            continue
        src = _code(path.read_text())
        if path in scripts and path.name != "_common.py" and "get_spark(" in src:
            fail(f"{rel} sets up Spark itself — take the session from _common.session()")
        pinned = re.search(r"SparkSession\.builder|local\[|spark\.driver\.memory"
                           r"|SPARK_GRAFT_CPUS|SPARK_DRIVER_MEMORY", src)
        if pinned:
            fail(f"{rel} decides session policy ({pinned.group()!r}) — only session.py may")

    # 9. one two-phase prefix primitive: grouped_running_sum owns the
    # range-bucket -> local window -> broadcast-offset algorithm.
    prefix_home = REPO / "etl_ml_pipeline_spark" / "operators" / "relational.py"
    for path in package:
        if path != prefix_home and "_ranged_with_pid" in _code(path.read_text()):
            fail(f"{path.relative_to(REPO)} names _ranged_with_pid — call "
                 "operators.relational.grouped_running_sum instead")

    # 10. one ANN rerank core: similarity.py owns the MMR tail and the
    # [-1, 1] cosine clamp, so a fix to either cannot miss a sibling.
    ann_home = REPO / "etl_ml_pipeline_spark" / "operators" / "similarity.py"
    rerank = re.compile(r"mmr_select\(|def \w*cos\w*clamp"
                        r"|least\(F\.lit\(1\.0\), F\.greatest\(F\.lit\(-1\.0\)"
                        r"|greatest\(F\.lit\(-1\.0\), F\.least\(F\.lit\(1\.0\)")
    for path in package:
        hit = path != ann_home and rerank.search(_code(path.read_text()))
        if hit:
            fail(f"{path.relative_to(REPO)} re-implements the ANN rerank core "
                 f"({hit.group()!r}) — call operators.similarity.mmr_rerank / "
                 "cos_clamped instead")

    # 11. one nearest-rank cut and one largest-remainder quota:
    # relational.py owns the k = ceil(p*n) rank arithmetic and the
    # Hamilton split. The DuckDB oracles write // for integer division,
    # so only Spark-side copies match.
    quantile = re.compile(r"__total \+ \d+\) (?i:div)|\* \w+\) % \w+['\"]")
    for path in package:
        hit = path != prefix_home and quantile.search(_code(path.read_text()))
        if hit:
            fail(f"{path.relative_to(REPO)} re-implements a nearest-rank cut or a "
                 f"largest-remainder quota ({hit.group()!r}) — call "
                 "operators.relational.nearest_rank_cuts / nearest_rank_percentiles "
                 "/ largest_remainder instead")

    print(
        f"precommit_check: OK — catalog {len(qs)} queries, pin + "
        "CATALOG.md + oracles + staleness + README + scripts + session policy + "
        "prefix primitive + ANN rerank core + nearest-rank/quota home consistent"
    )


if __name__ == "__main__":
    main()
