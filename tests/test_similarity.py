"""Bit-parity pin for the fold_cosine_max Arrow kernel (r16).

The kernel replaces the interpreted HOF ``max(cosine(cv, bv))``
crossJoin+groupBy in the semantic-decontam exact legs; the declared
query results must stay IDENTICAL, so the kernel must reproduce the JVM
sequential-fold cosine bit-for-bit — asserted here with exact float64
equality on adversarial inputs (float32-cast-to-double values like the
real embeddings table, identical vectors for the 1.0000000000000002
fold artifact, scaled copies like the injected leak rows).

Also pins the tie order every per-query top-k variant shares.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.ann_index import (
    ivf_index_read,
    ivf_index_write,
    ivf_topk_from_index,
)
from etl_ml_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    fold_cosine_max,
    ivf_topk,
    ivfpq_topk,
    lsh_topk,
    make_hyperplanes,
    pq_adc_topk,
    pq_encode,
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


# Three exact duplicates of the query (c_ids 5, 2, 4, inserted out of
# order) tie on cosine AND on ADC; the other vectors score strictly worse.
_TIE_VEC = [1.0, 0.0, 0.0, 0.0]
_TIE_CORPUS = [
    (5, _TIE_VEC),
    (1, [0.0, 1.0, 0.0, 0.0]),
    (2, _TIE_VEC),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, _TIE_VEC),
    (6, [0.0, 0.0, 0.0, 1.0]),
]
# m=2 subspaces of 2 dims, 3 centroids each: every subvector is a code
# exactly, so the duplicates' ADC is 0 and every other vector's is 2.
_TIE_CODEBOOKS = [
    [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]],
    [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
]


def _tie_topk(spark, tmp_path, variant):
    corpus = spark.createDataFrame(_TIE_CORPUS, "c_id long, c_vec array<double>")
    queries = spark.createDataFrame([(0, _TIE_VEC)], "q_id long, q_vec array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.1, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 1.0])],
        "cent_id long, cent_vec array<double>",
    )
    if variant == "ivf_from_index":
        path = str(tmp_path / "ivf")
        ivf_index_write(corpus, cents, path)
        return ivf_topk_from_index(queries, *ivf_index_read(spark, path), k=2)
    if variant == "pq_adc":
        codes = pq_encode(corpus, _TIE_CODEBOOKS, "c_vec").select("c_id", "pq_codes")
        return pq_adc_topk(queries, codes, _TIE_CODEBOOKS, k=2)
    return {
        "brute_force": lambda: brute_force_topk(queries, corpus, k=2),
        "lsh": lambda: lsh_topk(queries, corpus, make_hyperplanes(4, 4, seed=3), k=2),
        "ivf": lambda: ivf_topk(queries, corpus, cents, k=2),
        "ivfpq": lambda: ivfpq_topk(queries, corpus, cents, _TIE_CODEBOOKS, k=2),
    }[variant]()


@pytest.mark.parametrize(
    "variant", ["brute_force", "lsh", "ivf", "ivf_from_index", "pq_adc", "ivfpq"]
)
def test_topk_ties_rank_lower_c_id_first(spark, tmp_path, variant):
    """Tied scores rank the lower c_id first — cosine descending, ADC
    ascending — and k cuts after the tie-break: of the three tied
    duplicates, k=2 keeps c_ids 2 and 4, never 5."""
    rows = _tie_topk(spark, tmp_path, variant).orderBy("rank").collect()
    assert [(r["rank"], r["c_id"]) for r in rows] == [(1, 2), (2, 4)]
    assert len({r[3] for r in rows}) == 1  # the score column: a real tie
