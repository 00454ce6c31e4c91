"""Record the bench at the synthetic sf1 (.sf1, 10x sf0.1) with both of
bench.py's tail lines, per-query medians and the summary, so records at
two core counts separate parallel queries from driver-bound ones.

Usage: [SPARK_GRAFT_CPUS=N] python scripts/bench_sf1.py [OUT.json]
       (default BENCH_sf1.json; cores as the engine's session sizes them;
       builds .sf1 with make_sf1.py when it is missing)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from _common import NPROC, REPO, stamp

SF1 = REPO / ".sf1"


def main() -> None:
    out_path = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / "BENCH_sf1.json"
    if not SF1.exists():
        subprocess.run([sys.executable, str(REPO / "scripts" / "make_sf1.py")],
                       check=True)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=str(SF1))
    proc = subprocess.run([sys.executable, str(REPO / "bench.py")],
                          env=env, capture_output=True, text=True)
    parsed = {}
    for ln in proc.stdout.strip().splitlines()[-2:]:
        try:
            d = json.loads(ln)
        except ValueError:
            continue
        d["sf"] = 1.0  # the .sf1 basename parses as "1"; make it explicit
        parsed[d.get("metric", "?")] = d
    record = stamp({
        "n": 4,  # bench.py: 1 untimed warm pass + 3 timed (median reported)
        "rc": proc.returncode,
        "sf": 1.0,
        "per_query": parsed.get("headline_per_query", {}).get("queries", {}),
        "summary": parsed.get("headline_summary"),
    })
    out_path.write_text(json.dumps(record, indent=1))
    print(json.dumps({"rc": proc.returncode, "nproc": NPROC,
                      "value": (record["summary"] or {}).get("value")}))


if __name__ == "__main__":
    main()
