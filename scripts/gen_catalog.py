"""Generate CATALOG.md: every named query with its module, oracle kind,
and output schema (from a sf0.001 run) — the navigable index of the
query catalog for reviewers.

Usage: python scripts/gen_catalog.py
"""

from __future__ import annotations

from _common import REPO, session

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    import importlib

    from etl_ml_pipeline_spark.queries import _MODULES, all_oracles

    spark = session("gen_catalog")
    oracles = all_oracles()
    lines = [
        "# Query catalog",
        "",
        "Generated by `scripts/gen_catalog.py` — every entry in "
        "`__spark_entry__.queries()` with its module, oracle kind, and "
        "output schema at sf0.001. All entries are hash-compared against "
        "their DuckDB oracle SQL by the round driver and by "
        "`scripts/diff.py`.",
        "",
        "| # | Query | Module | Oracle | Output schema |",
        "|---|---|---|---|---|",
    ]
    i = 0
    for mod_name in _MODULES:
        mod = importlib.import_module(
            f"etl_ml_pipeline_spark.queries.{mod_name}"
        )
        for name, fn in getattr(mod, "QUERIES", {}).items():
            i += 1
            df = fn(spark, SF_DIR)
            schema = ", ".join(
                f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields
            )
            kind = "SQL hash" if name in oracles else "rows-only"
            lines.append(f"| {i} | `{name}` | {mod_name} | {kind} | {schema} |")
            print(f"{i:4d} {name}", flush=True)
    (REPO / "CATALOG.md").write_text("\n".join(lines) + "\n")
    print(f"wrote CATALOG.md ({i} queries)")


if __name__ == "__main__":
    main()
