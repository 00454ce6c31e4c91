"""Oracle differential through the driver contract (``__spark_entry__``).

Usage: python scripts/diff.py SF_DIR... [--only a,b] [--out PATH]

Prints ``entry rows: N``, one line per name and dir with its seconds,
and per dir ``oracle fails: none (253 compared)``; row-level detail of a
failure goes to stderr and the exit status is 1. Every result row holds
its ``sf_dir`` and the ``nproc`` it ran on. ``--out`` writes this run as
``{"summary", "results": {sf_dir: {name: row}}}``. Rows from ``.sf1``
(the repo's synthetic sf1, built by make_sf1.py) are also merged into
the sf1 record scripts/sf1_diff.json, ``{"summary", "results": {name:
row}}``, which precommit_check.py reads; its rows from before the core
count was recorded hold ``nproc: null``. Tie and ulp bugs are
data-dependent, so run it at more than one scale factor.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

from _common import NPROC, REPO, session, stamp

SF1 = REPO / ".sf1"
SF1_RECORD = REPO / "scripts" / "sf1_diff.json"


def merge_sf1(rows: dict[str, dict], wall_s: float) -> None:
    """Fold a run's .sf1 rows into the sf1 record."""
    results = {**json.loads(SF1_RECORD.read_text())["results"], **rows}
    fails = sorted(n for n, v in results.items() if not v["ok"])
    summary = stamp({"total": len(results), "n_fail": len(fails), "fails": fails,
                     "rerun": len(rows), "rerun_wall_s": wall_s})
    SF1_RECORD.write_text(json.dumps({"summary": summary, "results": results},
                                     indent=1))
    print(f"merged {len(rows)} rows into {SF1_RECORD.name}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", nargs="+")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--out")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from etl_ml_pipeline_spark.oracle import compare_one

    spark = session("diff")
    print("entry rows:", len(entry.entry(spark).collect()), flush=True)
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = sorted(oracles)
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            sys.exit(f"unknown query names: {unknown}")

    results: dict[str, dict[str, dict]] = {}
    fails: set[str] = set()
    t0 = time.time()
    for sf_dir in args.sf_dirs:
        rows, t_dir = results.setdefault(sf_dir, {}), time.time()
        for name in names:
            t1 = time.time()
            try:
                r = compare_one(name, spark, sf_dir, qs[name], oracles[name])
                ok, detail = r.ok, r.detail
            except Exception as e:  # noqa: BLE001 — one bad name must not stop the run
                ok, detail = False, repr(e)
            row = rows[name] = {"ok": ok, "sec": round(time.time() - t1, 2),
                                "sf_dir": sf_dir, "nproc": NPROC}
            print(f"{name} {sf_dir} {'ok' if ok else 'FAIL'} {row['sec']}s", flush=True)
            if not ok:
                fails.add(name)
                row["detail"] = str(detail)[:2000]
                print(f"FAIL {name} at {sf_dir}: {detail}", file=sys.stderr)
        dir_fails = sorted(n for n, v in rows.items() if not v["ok"])
        print(f"== {sf_dir}\noracle fails: {dir_fails or 'none'} ({len(names)} compared)")
        if Path(sf_dir).resolve() == SF1.resolve():
            merge_sf1(rows, round(time.time() - t_dir, 1))

    summary = stamp({"sf_dirs": args.sf_dirs, "compared": len(names),
                     "n_fail": len(fails), "fails": sorted(fails),
                     "wall_s": round(time.time() - t0, 1)})
    print(json.dumps(summary))
    if args.out:
        Path(args.out).write_text(
            json.dumps({"summary": summary, "results": results}, indent=1))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
