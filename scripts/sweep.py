"""How each query's time grows with the data: a scale sweep over SF dirs.

Usage: python scripts/sweep.py SF_DIR... [--only a,b] [--out PATH]

For each name and dir: one untimed warm pass, then 2 timed passes split
into ``build_s`` (calling the query function: Python plan construction
plus any jobs it fires eagerly) and ``collect_s`` (``toPandas``, which
evaluates every column, unlike ``count``); medians are reported. Between
consecutive dirs it reports ``ratio`` = total time next / previous and
``alpha`` = log(ratio) / log(sf next / sf previous), with the sf read
from the dir name (``sf0.1``, ``.sf1``). On fixed cores alpha <= 1 is
linear or better; alpha well above 1 flags a data-scaled stage. Names
default to the whole catalog; ``--out`` defaults to SWEEP.json.
"""

from __future__ import annotations

import argparse
import json
import math
import re
import statistics
import sys
import time
from pathlib import Path

from _common import session, stamp

PASSES = 2


def sf_of(sf_dir: str) -> float | None:
    m = re.search(r"sf(\d+(?:\.\d+)?)$", Path(sf_dir).name)
    return float(m.group(1)) if m else None


def alpha(ratio: float, prev_dir: str, next_dir: str) -> float | None:
    a, b = sf_of(prev_dir), sf_of(next_dir)
    if not (a and b and a != b and ratio > 0):
        return None
    return round(math.log(ratio) / math.log(b / a), 2)


def time_query(spark, fn, sf_dir: str) -> dict:
    rows = len(fn(spark, sf_dir).toPandas())
    builds, collects = [], []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.toPandas()
        builds.append(t1 - t0)
        collects.append(time.perf_counter() - t1)
    b, c = statistics.median(builds), statistics.median(collects)
    return {"build_s": round(b, 3), "collect_s": round(c, 3),
            "total_s": round(b + c, 3), "rows": rows}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", nargs="+")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--out", default="SWEEP.json")
    args = ap.parse_args()

    from etl_ml_pipeline_spark.queries import all_queries

    qs = all_queries()
    names = args.only.split(",") if args.only else sorted(qs)
    spark = session("sweep")
    results: dict[str, dict] = {}
    for name in names:
        row: dict = {}
        try:
            for sf_dir in args.sf_dirs:
                row[sf_dir] = time_query(spark, qs[name], sf_dir)
        except Exception as e:  # noqa: BLE001 — one bad name must not stop the sweep
            row["error"] = f"{type(e).__name__}: {e}"[:300]
        if "error" not in row:
            pairs = list(zip(args.sf_dirs, args.sf_dirs[1:]))
            row["ratio"] = [round(row[b]["total_s"] / max(row[a]["total_s"], 1e-3), 2)
                            for a, b in pairs]
            row["alpha"] = [alpha(r, a, b) for r, (a, b) in zip(row["ratio"], pairs)]
        results[name] = row
        print(name, json.dumps(row), file=sys.stderr, flush=True)
    record = stamp({"sf_dirs": args.sf_dirs, "passes": PASSES,
                    "queries": results})
    Path(args.out).write_text(json.dumps(record, indent=1))
    worst = [(max(al), n) for n, r in results.items()
             if (al := [a for a in r.get("alpha", []) if a is not None])]
    print(json.dumps({"out": args.out, "n": len(names),
                      "top_alpha": sorted(worst, reverse=True)[:10]}))


if __name__ == "__main__":
    main()
