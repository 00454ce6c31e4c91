"""A/B of whole trees: the tree at REV against the working tree.

Usage: python scripts/ab.py REV [NAME...] [--sf DIR] [--pairs N] [--out PATH]

Each pair runs both trees, each in a fresh process (its own JVM), and
the side that goes first alternates from pair to pair: the host drifts,
so only interleaved runs compare code. A run does one warm pass per
name, then 3 timed passes (plan build + toPandas), as bench.py does.
Both trees' warm results of the first pair are compared with one
``oracle.value_hash`` before any time is reported; the script exits 1
if any name's rows differ. Per name it reports the median of the
per-pair medians of each side, the number of pairs the working tree
wins, and the interquartile range of the old side's pair medians; the
JSON keeps every pass, grouped by pair. Names default to
``bench.HEADLINE``; ``REV=HEAD`` is a same-code recheck.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

from _common import REPO, run_in, session, stamp, use_tree, worktree

PASSES = 3


def run_side(names: list[str], sf_dir: str) -> None:
    """One side of a pair, in this process: pickle each warm result to a
    temp dir and print one JSON line with that dir and the times."""
    from etl_ml_pipeline_spark.queries import all_queries

    spark = session("ab")
    qs = all_queries()
    dump, out = tempfile.mkdtemp(prefix="ab_"), {}
    for name in names:
        pdf = qs[name](spark, sf_dir).toPandas()
        pdf.to_pickle(Path(dump) / f"{name}.pkl")
        times = []
        for _ in range(PASSES):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).toPandas()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {"rows": len(pdf), "times": times}
    print(json.dumps({"dump": dump, "results": out}))


def compare(names: list[str], old_dir: Path, new_dir: Path) -> dict[str, bool]:
    """Per name: do both trees' warm results hold the same rows?"""
    import pandas as pd

    from etl_ml_pipeline_spark.oracle import canonical_rows, value_hash

    equal = {}
    for name in names:
        a = pd.read_pickle(old_dir / f"{name}.pkl")
        b = pd.read_pickle(new_dir / f"{name}.pkl")
        equal[name] = (sorted(a.columns) == sorted(b.columns)
                       and value_hash(a) == value_hash(b))
        if equal[name]:
            print(f"{name}: rows equal ({len(b)} rows)", flush=True)
            continue
        ra, rb = canonical_rows(a), canonical_rows(b)
        print(f"{name}: ROWS DIFFER (old {len(a)} rows, new {len(b)} rows)\n"
              f"  only-in-old={sorted(set(ra) - set(rb))[:3]}\n"
              f"  only-in-new={sorted(set(rb) - set(ra))[:3]}", flush=True)
    return equal


def pair_count(v: str) -> int:
    n = int(v)
    if n < 1:
        raise argparse.ArgumentTypeError("needs at least 1 pair")
    return n


def spread(times: list[list[float]]) -> tuple[list[float], float]:
    """Per-pair medians of one side, and their interquartile range."""
    meds = [statistics.median(p) for p in times]
    q = statistics.quantiles(meds, n=4) if len(meds) > 1 else [meds[0]] * 3
    return meds, round(q[2] - q[0], 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("rev")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--pairs", type=pair_count, default=10)
    ap.add_argument("--out")
    ap.add_argument("--tree", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.tree:
        use_tree(args.tree)
        run_side(args.names, args.sf)
        return 0

    import bench

    names = args.names or bench.HEADLINE
    times = {"old": {n: [] for n in names}, "new": {n: [] for n in names}}
    rows: dict[str, dict[str, int]] = {}
    dumps: dict[str, Path] = {}
    sf_dir = str(Path(args.sf).resolve())
    try:
        with worktree(args.rev) as old:
            trees = {"old": old, "new": REPO}
            for i in range(args.pairs):
                for side in ("old", "new") if i % 2 == 0 else ("new", "old"):
                    proc = run_in(trees[side], __file__,
                                  [args.rev, *names, "--sf", sf_dir],
                                  capture_output=True)
                    if proc.returncode:
                        sys.exit(f"{side} run failed:\n{proc.stderr[-3000:]}")
                    run = json.loads(proc.stdout.splitlines()[-1])
                    dump = Path(run["dump"])
                    if i == 0:
                        dumps[side] = dump
                    else:
                        shutil.rmtree(dump, ignore_errors=True)
                    for name, r in run["results"].items():
                        times[side][name].append(r["times"])
                        rows.setdefault(name, {})[side] = r["rows"]
                if i == 0:
                    equal = compare(names, dumps["old"], dumps["new"])
    finally:
        for dump in dumps.values():
            shutil.rmtree(dump, ignore_errors=True)

    results = {}
    for name in names:
        pair_old, iqr_old = spread(times["old"][name])
        pair_new, _ = spread(times["new"][name])
        med = {"old": round(statistics.median(pair_old), 3),
               "new": round(statistics.median(pair_new), 3)}
        wins = sum(n < o for o, n in zip(pair_old, pair_new))
        results[name] = {
            "rows": rows[name], "rows_equal": equal[name],
            "old": times["old"][name], "new": times["new"][name],
            "median_old": med["old"], "median_new": med["new"],
            "ratio": round(med["new"] / med["old"], 3) if med["old"] else None,
            "new_wins": wins, "iqr_old": iqr_old,
        }
        print(f"{name}: {med['old']} s -> {med['new']} s "
              f"(ratio {results[name]['ratio']}, new faster in {wins}/{args.pairs} "
              f"pairs, old IQR {iqr_old} s)", flush=True)
    record = stamp({"rev": args.rev, "sf_dir": args.sf, "pairs": args.pairs,
                    "passes": PASSES, "results": results})
    if args.out:
        Path(args.out).write_text(json.dumps(record, indent=1))
    print(json.dumps(record))
    return 0 if all(equal.values()) else 1

if __name__ == "__main__":
    raise SystemExit(main())
