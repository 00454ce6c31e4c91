"""Physical plans as evidence that a query's plan has the shape its code
claims.

Usage:
  python scripts/dump_plans.py
      Rewrite the plan block of every section of PLANS.md at sf0.01. The
      showcase is PLANS.md's own ``## name`` sections and their captions.
  python scripts/dump_plans.py NAME... [--rev REV] [--sf DIR]
                               [--out-dir DIR] [--executed]
      Write <out-dir>/<name>.txt from the working tree or, with --rev,
      <name>_before.txt from the tree at REV and <name>_after.txt from the
      working tree, and print how often each load-bearing node type is
      mentioned (the formatted plan names each node twice). --executed runs each query first and dumps AQE's final
      plan, the only place exchange and subquery reuse show.

Plan-shape regressions are caught by tests/test_plans.py.
"""

from __future__ import annotations

import argparse
import re
from pathlib import Path

from _common import REPO, run_in, session, use_tree, worktree

PLANS = REPO / "PLANS.md"
MARKS = {
    "scan": r"Scan parquet",
    "exch": r"\bExchange\b",
    "bcastX": r"BroadcastExchange",
    "reuseX": r"ReusedExchange",
    "reuseSq": r"ReusedSubquery",
    "bcastJ": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "shj": r"ShuffledHashJoin",
    "window": r"\bWindow\b|WindowExec|RunningWindowFunction",
    "py": r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
    "aqeRead": r"AQEShuffleRead",
}


def plan_text(df, executed: bool = False) -> str:
    if executed:
        df.toPandas()
        return df._jdf.queryExecution().executedPlan().toString()
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump(names: list[str], sf_dir: str, out_dir: Path, suffix: str | None,
         executed: bool) -> None:
    from etl_ml_pipeline_spark.queries import all_queries

    spark, qs = session("dump_plans"), all_queries()
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        try:
            plan = plan_text(qs[name](spark, sf_dir), executed)
        except Exception as e:  # noqa: BLE001 — a broken old tree still dumps the rest
            plan = f"ERROR: {type(e).__name__}: {e}"
        path = out_dir / (f"{name}_{suffix}.txt" if suffix else f"{name}.txt")
        path.write_text(plan)
        counts = {k: len(re.findall(p, plan)) for k, p in MARKS.items()}
        print(path, " ".join(f"{k}={v}" for k, v in counts.items() if v), flush=True)


def write_plans_md() -> None:
    from etl_ml_pipeline_spark.queries import all_queries

    text = PLANS.read_text()
    showcase = re.findall(r"^## (\S+)\n\n(.*?)\n\n```", text, re.M | re.S)
    spark, qs = session("dump_plans"), all_queries()
    out = [text[: text.index("\n## ")]]
    for name, why in showcase:
        plan = plan_text(qs[name](spark, "/root/testdata/sf0.01"))
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```", ""]
    PLANS.write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(showcase)} plans)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--rev")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out-dir", default=str(REPO / "plans"))
    ap.add_argument("--executed", action="store_true")
    ap.add_argument("--tree", help=argparse.SUPPRESS)
    args = ap.parse_args()
    out_dir = Path(args.out_dir).resolve()
    if args.tree:
        use_tree(args.tree)
        suffix = "after" if Path(args.tree) == REPO else "before"
        dump(args.names, args.sf, out_dir, suffix, args.executed)
    elif not args.names:
        write_plans_md()
    elif not args.rev:
        dump(args.names, args.sf, out_dir, None, args.executed)
    else:
        with worktree(args.rev) as old:
            for tree in (old, REPO):
                run_in(tree, __file__,
                       [*args.names, "--sf", str(Path(args.sf).resolve()),
                        "--out-dir", str(out_dir)]
                       + ["--executed"] * args.executed, check=True)


if __name__ == "__main__":
    main()
