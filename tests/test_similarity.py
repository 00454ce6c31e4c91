"""Bit-parity pin for the fold_cosine_max Arrow kernel (r16).

The kernel replaces the interpreted HOF ``max(cosine(cv, bv))``
crossJoin+groupBy in the semantic-decontam exact legs; the declared
query results must stay IDENTICAL, so the kernel must reproduce the JVM
sequential-fold cosine bit-for-bit — asserted here with exact float64
equality on adversarial inputs (float32-cast-to-double values like the
real embeddings table, identical vectors for the 1.0000000000000002
fold artifact, scaled copies like the injected leak rows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.similarity import (
    cosine,
    fold_cosine_max,
)


@pytest.fixture(scope="module")
def vec_frames(spark):
    rng = np.random.default_rng(7)
    d, n, b = 64, 200, 17
    # float32 grid cast to double — the real embeddings' value domain
    corpus = rng.standard_normal((n, d)).astype(np.float32).astype(np.float64)
    bench = rng.standard_normal((b, d)).astype(np.float32).astype(np.float64)
    # adversarial rows: an exact bench copy (fold cosine > 1.0 artifact)
    # and a scaled copy (the injected-leak construction)
    corpus[0] = bench[0]
    corpus[1] = bench[1] * 2.0
    cdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "c_id": np.arange(n, dtype=np.int64),
                "label": np.arange(n, dtype=np.int32) % 3,
                "cv": list(corpus),
            }
        )
    )
    return cdf, corpus, bench


def test_fold_cosine_max_bit_identical(spark, vec_frames):
    cdf, corpus, bench = vec_frames
    bdf = spark.createDataFrame(
        pd.DataFrame({"bv": list(bench)})
    )
    expr = (
        cdf.crossJoin(F.broadcast(bdf))
        .select("c_id", "label", cosine(F.col("cv"), F.col("bv")).alias("cos"))
        .groupBy("c_id", "label")
        .agg(F.max("cos").alias("max_cos"))
        .orderBy("c_id")
        .toPandas()
    )
    kern = (
        fold_cosine_max(
            cdf, list(bench), "cv", "max_cos", [("c_id", "long"), ("label", "int")]
        )
        .orderBy("c_id")
        .toPandas()
    )
    assert list(expr["c_id"]) == list(kern["c_id"])
    assert list(expr["label"]) == list(kern["label"])
    # EXACT equality — bitwise, not approx: the kernel's contract
    assert (
        expr["max_cos"].to_numpy() == kern["max_cos"].to_numpy()
    ).all(), "fold_cosine_max diverged from the HOF fold"
    # the identical-vector artifact must be preserved, not clamped
    row0 = kern.loc[kern["c_id"] == 0, "max_cos"].iloc[0]
    assert row0 >= 1.0


def test_fold_cosine_max_null_row_and_bad_bench(spark):
    """A NULL vector row gets a NULL max cosine, as the HOF fold gives;
    an empty or ragged bench block is rejected before any task runs."""
    bench = [[1.0, 0.0], [0.6, 0.8]]
    cdf = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, None), (2, [0.0, 2.0])], "c_id long, cv array<double>"
    )
    bdf = spark.createDataFrame([(v,) for v in bench], "bv array<double>")
    expr = (
        cdf.crossJoin(F.broadcast(bdf))
        .select("c_id", cosine(F.col("cv"), F.col("bv")).alias("cos"))
        .groupBy("c_id")
        .agg(F.max("cos").alias("max_cos"))
        .orderBy("c_id")
        .collect()
    )
    kern = (
        fold_cosine_max(cdf, bench, "cv", "max_cos", [("c_id", "long")])
        .orderBy("c_id")
        .collect()
    )
    assert kern == expr
    assert kern[1]["max_cos"] is None
    for bad in ([], [[]], [[1.0, 0.0], [1.0]]):
        with pytest.raises(ValueError, match="bench_vecs"):
            fold_cosine_max(cdf, bad, "cv", "max_cos", [("c_id", "long")])
