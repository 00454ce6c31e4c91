"""Measured single-node throughput: the REFERENCE's own pandas
transformers (imported from /root/reference, untouched) vs this
engine's Spark operators on identical data and identical configs —
the BASELINE.md "matches-or-beats single-node throughput" criterion,
quantified. The reference processes one series per frame and is
single-threaded; the engine runs every series in one Spark job on all cores.

Two legs:
- indicators: S symbols x D days of OHLCV through the reference
  TechnicalIndicatorTransformer (looped per symbol, as its API
  requires) vs our `technical_indicators` transform with
  series_col=symbol in ONE plan.
- cleaning: an N-row messy frame (whitespace, duplicate rows, nulls,
  string-typed numerics) through the reference DataCleaningTransformer
  vs our `data_cleaning` transform, same config dict.

The Spark side forces FULL evaluation through an aggregate over every
computed column (a count() would let Catalyst prune the projection).
Writes REF_COMPARE.json.

Usage: python scripts/ref_compare.py [--small]
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np
import pandas as pd

from _common import NPROC, REPO, session, stamp

sys.path.insert(0, "/root/reference/src")

SMALL = "--small" in sys.argv
N_SYMBOLS, N_DAYS = (50, 120) if SMALL else (2000, 500)
N_CLEAN = 100_000 if SMALL else 5_000_000


def gen_ohlcv() -> pd.DataFrame:
    rng = np.random.default_rng(42)
    dates = pd.date_range("2020-01-01", periods=N_DAYS, freq="D").strftime(
        "%Y-%m-%d"
    )
    frames = []
    for s in range(N_SYMBOLS):
        close = 100 + np.cumsum(rng.standard_normal(N_DAYS))
        frames.append(
            pd.DataFrame(
                {
                    "symbol": f"SYM{s:04d}",
                    "Date": dates,
                    "Open": close + 0.1,
                    "High": close + 0.5,
                    "Low": close - 0.5,
                    "Close": close,
                    "Volume": rng.integers(1e5, 1e6, N_DAYS).astype(float),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def gen_messy(n: int) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    base = pd.DataFrame(
        {
            "Name": [f"  user {i % (n // 2)}  " for i in range(n)],
            "City": rng.choice(["  NYC", "LA  ", " SF ", None], n),
            "Amount": rng.choice(["10.5", "20.25", "bad", None], n),
            "Flag": rng.integers(0, 2, n),
        }
    )
    return base


_CLEAN_CFG = {
    "lowercase_columns": True,
    "strip_whitespace": True,
    "fill_nulls": {"city": "unknown"},
    "deduplicate": True,
    "cast_types": {"amount": "float"},
}


def main() -> None:
    from data_extractor.transformers.data_cleaning import DataCleaningTransformer
    from data_extractor.transformers.finance_transformer import (
        TechnicalIndicatorTransformer,
    )

    from etl_ml_pipeline_spark import plugins  # noqa: F401
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    results = {}
    spark = session("ref_compare")

    # ── indicators leg ──────────────────────────────────────────────
    pdf = gen_ohlcv()
    ref_t = TechnicalIndicatorTransformer({})
    t0 = time.perf_counter()
    out_rows = 0
    for _, g in pdf.groupby("symbol", sort=False):
        out_rows += len(ref_t.transform(g.drop(columns=["symbol"])))
    ref_sec = time.perf_counter() - t0

    sdf = spark.createDataFrame(pdf).repartition(2 * NPROC, "symbol").persist()
    sdf.count()  # cache outside the timed region (reference got its frame free too)
    ours = TRANSFORMS.get("technical_indicators")({"series_col": "symbol"})
    from pyspark.sql import functions as F

    t1 = time.perf_counter()
    res = ours.transform(sdf)
    ind_cols = ["sma_50", "rsi_14", "bb_upper", "bb_lower", "macd",
                "macd_signal", "macd_histogram"]
    agg = res.agg(
        F.count("*").alias("n"), *[F.sum(c).alias(c) for c in ind_cols]
    ).collect()[0]
    spark_sec = time.perf_counter() - t1
    assert agg["n"] == out_rows, (agg["n"], out_rows)
    results["indicators"] = {
        "rows_in": len(pdf),
        "rows_out": out_rows,
        "reference_pandas_sec": round(ref_sec, 2),
        "spark_sec": round(spark_sec, 2),
        "speedup": round(ref_sec / spark_sec, 2),
    }
    print("indicators:", results["indicators"], flush=True)

    # ── cleaning leg ────────────────────────────────────────────────
    mess = gen_messy(N_CLEAN)
    ref_c = DataCleaningTransformer(dict(_CLEAN_CFG))
    t2 = time.perf_counter()
    ref_clean = ref_c.transform(mess)
    ref_c_sec = time.perf_counter() - t2

    smess = spark.createDataFrame(mess).repartition(2 * NPROC).persist()
    smess.count()
    ours_c = TRANSFORMS.get("data_cleaning")(dict(_CLEAN_CFG))
    t3 = time.perf_counter()
    cres = ours_c.transform(smess)
    cagg = cres.agg(
        F.count("*").alias("n"),
        F.sum(F.length("name")).alias("ln"),
        F.sum("amount").alias("amt"),
    ).collect()[0]
    spark_c_sec = time.perf_counter() - t3
    assert cagg["n"] == len(ref_clean), (cagg["n"], len(ref_clean))
    results["cleaning"] = {
        "rows_in": N_CLEAN,
        "rows_out": int(cagg["n"]),
        "reference_pandas_sec": round(ref_c_sec, 2),
        "spark_sec": round(spark_c_sec, 2),
        "speedup": round(ref_c_sec / spark_c_sec, 2),
    }
    print("cleaning:", results["cleaning"], flush=True)

    # ── validation leg ──────────────────────────────────────────────
    from data_extractor.transformers.pydantic_validation import (
        PydanticValidationTransformer,
    )

    n_val = 20_000 if SMALL else 1_000_000
    rng = np.random.default_rng(3)
    vdf = pd.DataFrame(
        {
            "userId": rng.integers(-1, 50, n_val),
            "id": rng.integers(0, 10**6, n_val),
            "title": rng.choice(["task", "", "chore"], n_val),
            "completed": rng.integers(0, 2, n_val).astype(bool),
        }
    )
    vcfg = {"model": "data_extractor.schemas.todo.TodoItem"}
    t4 = time.perf_counter()
    ref_valid = PydanticValidationTransformer(dict(vcfg)).transform(vdf)
    ref_v_sec = time.perf_counter() - t4

    svdf = spark.createDataFrame(vdf).repartition(2 * NPROC).persist()
    svdf.count()
    t5 = time.perf_counter()
    vres = TRANSFORMS.get("pydantic_validation")(dict(vcfg)).transform(svdf)
    vagg = vres.agg(
        F.count("*").alias("n"), F.sum("userId").alias("s")
    ).collect()[0]
    spark_v_sec = time.perf_counter() - t5
    assert vagg["n"] == len(ref_valid), (vagg["n"], len(ref_valid))
    results["validation"] = {
        "rows_in": n_val,
        "rows_out": int(vagg["n"]),
        "reference_pandas_sec": round(ref_v_sec, 2),
        "spark_sec": round(spark_v_sec, 2),
        "speedup": round(ref_v_sec / spark_v_sec, 2),
    }
    print("validation:", results["validation"], flush=True)

    out = REPO / "REF_COMPARE.json"
    out.write_text(json.dumps(stamp(
        {"workload": {"symbols": N_SYMBOLS, "days": N_DAYS, "clean_rows": N_CLEAN},
         "results": results}), indent=1))
    print("wrote", out)


if __name__ == "__main__":
    main()
