"""Invariant tests for the round-14 catalog additions (batch 2).

The DuckDB oracle pins exact cross-engine semantics; these tests pin
the ALGORITHMIC contracts that a hash match alone would not explain to
a reader: pair-assembly invariants, injected-leak recall, metric
bounds, mask accounting, schedule arithmetic, multiplicative-weight
behavior, and MMR selection structure (incl. a numpy greedy replay).
"""

from __future__ import annotations

import numpy as np
import pytest

from etl_ml_pipeline_spark.queries.ml_q import preference_pair_construction
from etl_ml_pipeline_spark.queries.sampling_q import mixture_doremi_weights
from etl_ml_pipeline_spark.queries.similarity_q import (
    _MMR_K,
    _MMR_LAMBDA,
    _MMR_MU,
    _MMR_POOL,
    ann_mmr_rerank_topk,
    retrieval_eval_metrics,
    semantic_decontam_stats,
)
from etl_ml_pipeline_spark.queries.timeseries import sft_loss_masking_stats
from etl_ml_pipeline_spark.queries.url_q import crawl_frontier_schedule


# ---------------------------------------------------------------------------
# preference_pair_construction
# ---------------------------------------------------------------------------


def test_preference_pairs_invariants(spark, sf_dir):
    out = preference_pair_construction(spark, sf_dir).toPandas()
    assert len(out) > 0
    # a pair never degenerates and its margin is the checked difference
    assert (out.chosen_id != out.rejected_id).all()
    assert (out.margin_ppm > 0).all()
    assert (out.margin_ppm == out.chosen_q_ppm - out.rejected_q_ppm).all()
    assert (out.n_candidates >= 2).all()
    # pair members actually belong to their prompt group
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs["len_bucket"] = docs.n_chars // 200
    by_id = docs.set_index("doc_id")
    for r in out.itertuples():
        for member in (r.chosen_id, r.rejected_id):
            assert by_id.loc[member, "lang"] == r.lang
            assert by_id.loc[member, "len_bucket"] == r.len_bucket


# ---------------------------------------------------------------------------
# semantic_decontam_stats
# ---------------------------------------------------------------------------


def test_semantic_decontam_catches_every_injected_leak(spark, sf_dir):
    out = semantic_decontam_stats(spark, sf_dir).toPandas()
    assert len(out) > 0
    # the injected scaled benchmark copies are the known leaks: the
    # query's own recall contract must hold on every label
    assert out.all_injected_caught.all()
    inj = out.n_injected.sum()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    expected_inj = ((emb.vec_id < 40) & (emb.vec_id % 4 == 0)).sum()
    assert inj == expected_inj > 0
    # contaminated is at least the injected rows, never exceeds corpus
    assert (out.n_contaminated >= out.n_injected).all()
    assert (out.n_contaminated <= out.n_corpus).all()


# ---------------------------------------------------------------------------
# retrieval_eval_metrics
# ---------------------------------------------------------------------------


def test_retrieval_eval_metric_bounds(spark, sf_dir):
    out = retrieval_eval_metrics(spark, sf_dir).toPandas()
    assert len(out) == 20
    assert out.recall10_ppm.between(0, 1_000_000).all()
    assert out.rr_ppm.between(0, 1_000_000).all()
    assert (out.hits10 <= 10).all()
    assert (out.hits10 <= out.n_gold).all()
    # reciprocal rank is exactly 1e6 iff the first hit is gold
    top = out[out.first_gold_rank == 1]
    assert (top.rr_ppm == 1_000_000).all()
    # no gold -> all metrics zero (and vice versa for rr)
    none = out[out.n_gold == 0]
    assert (none.rr_ppm == 0).all() and (none.recall10_ppm == 0).all()
    some = out[out.n_gold > 0]
    assert (some.first_gold_rank >= 1).all()


# ---------------------------------------------------------------------------
# sft_loss_masking_stats
# ---------------------------------------------------------------------------


def test_sft_mask_accounting(spark, sf_dir):
    out = sft_loss_masking_stats(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out.masked_tok + out.trained_tok == out.total_tok).all()
    assert (out.kept_trained_tok <= out.trained_tok).all()
    assert (out.kept_turns <= out.n_turns).all()
    assert out.trained_ppm.between(0, 1_000_000).all()
    assert (out.n_assistant_turns <= out.n_turns).all()


def test_sft_mask_matches_pandas_replay(spark, sf_dir):
    out = sft_loss_masking_stats(spark, sf_dir).toPandas().set_index("user_id")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev = ev[ev.user_id < 300].copy()
    ev["n_tok"] = 7 + ev.event_id % 29
    ev["is_asst"] = ev.event_type.isin(["purchase", "error"]).astype(int)
    for uid, g in list(ev.groupby("user_id"))[:5]:
        g = g.sort_values(["ts", "event_id"], ascending=False)
        rev_cum = g.n_tok.cumsum()
        row = out.loc[uid]
        assert row.n_turns == len(g)
        assert row.total_tok == g.n_tok.sum()
        assert row.trained_tok == g[g.is_asst == 1].n_tok.sum()
        kept = rev_cum <= 64
        assert row.kept_turns == kept.sum()
        assert row.kept_trained_tok == g.n_tok[kept & (g.is_asst == 1)].sum()


# ---------------------------------------------------------------------------
# crawl_frontier_schedule
# ---------------------------------------------------------------------------


def test_crawl_frontier_arithmetic(spark, sf_dir):
    out = crawl_frontier_schedule(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert out.delay_s.between(1, 5).all()
    assert (out.makespan_s == (out.n_pages - 1) * out.delay_s).all()
    assert (out.backlog == out.n_pages - out.n_within_60s).all()
    assert (out.n_within_60s >= 1).all()
    # the horizon admits exactly floor(60/delay)+1 slots when backlogged
    backlogged = out[out.backlog > 0]
    assert (backlogged.n_within_60s == 60 // backlogged.delay_s + 1).all()


# ---------------------------------------------------------------------------
# mixture_doremi_weights
# ---------------------------------------------------------------------------


def test_doremi_weight_behavior(spark, sf_dir):
    out = mixture_doremi_weights(spark, sf_dir).toPandas()
    assert len(out) > 0
    zero = out[out.excess_ppm == 0]
    lossy = out[out.excess_ppm > 0]
    # no deficit -> the multiplicative update is the identity
    for c in ("w1", "w2", "w3"):
        assert (zero[c] == 1_000_000).all()
    # any deficit -> strictly boosted every round (share < 1e6 always)
    if len(lossy):
        assert (lossy.w1 > 1_000_000).all()
        assert (lossy.w3 >= lossy.w2).all() and (lossy.w2 >= lossy.w1).all()
    # floored normalization: sums to <= 1e6, within |domains| of it
    s = out.weight_ppm.sum()
    assert 1_000_000 - len(out) < s <= 1_000_000


# ---------------------------------------------------------------------------
# ann_mmr_rerank_topk
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# registry transforms: preference_pairs + semantic_decontam
# ---------------------------------------------------------------------------


def test_preference_pairs_transform(spark):
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    df = spark.createDataFrame(
        [
            # group (en): clear best (distinct-heavy) vs worst (repetitive)
            (1, "en", 100, "a b c d e"),
            (2, "en", 120, "a a a a a"),
            (3, "en", 150, "a b a b c"),
            # group (de): single candidate -> no pair
            (4, "de", 100, "x y z"),
            # group (fr): tie scores -> zero margin -> no pair
            (5, "fr", 100, "p q"),
            (6, "fr", 110, "r s"),
        ],
        "doc_id long, lang string, n_chars long, text string",
    )
    t = TRANSFORMS.get("preference_pairs")({"group_cols": ["lang"]})
    out = t(df).toPandas().set_index("lang")
    assert list(out.index) == ["en"]
    assert out.loc["en", "chosen_id"] == 1
    assert out.loc["en", "rejected_id"] == 2
    assert out.loc["en", "n_candidates"] == 3
    assert out.loc["en", "margin"] > 0
    # bucket_col splits groups; score_col overrides the TTR default
    t2 = TRANSFORMS.get("preference_pairs")(
        {"group_cols": ["lang"], "bucket_col": "n_chars", "bucket_size": 50,
         "score_col": "n_chars"}
    )
    out2 = t2(df).toPandas()
    assert "bucket" in out2.columns
    # validation errors are loud
    with pytest.raises(ValueError, match="not in input"):
        TRANSFORMS.get("preference_pairs")({"group_cols": ["nope"]})(df)


def test_semantic_decontam_transform(spark, tmp_path):
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    bench_path = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    ).write.parquet(bench_path)
    df = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0]),   # scaled copy of bench 100 -> dropped
            (2, [0.0, 0.0, 1.0]),   # orthogonal -> kept
            (3, [0.0, 3.0, 0.0]),   # scaled copy of bench 101 -> dropped
        ],
        "doc_id long, embedding array<double>",
    )
    t = TRANSFORMS.get("semantic_decontam")({"benchmark_path": bench_path})
    kept = sorted(r.doc_id for r in t(df).collect())
    assert kept == [2]
    # an over-cap benchmark routes through the IVF shortlist path
    # (VERDICT r14 ask #3) instead of refusing or shuffling an
    # all-pairs product — same verdicts on the planted scaled copies
    big = TRANSFORMS.get("semantic_decontam")(
        {"benchmark_path": bench_path, "n_cells": 2, "n_probe": 1}
    )
    from unittest import mock

    with mock.patch(
        "etl_ml_pipeline_spark.sizing.path_bytes", return_value=1 << 40
    ):
        assert sorted(r.doc_id for r in big(df).collect()) == [2]
    # unknown benchmark size (remote path) is treated as NOT small ->
    # shortlist path too, and force_shortlist takes it explicitly
    forced = TRANSFORMS.get("semantic_decontam")(
        {"benchmark_path": bench_path, "force_shortlist": True,
         "n_cells": 2, "n_probe": 1}
    )
    assert sorted(r.doc_id for r in forced(df).collect()) == [2]
    # missing column is loud
    with pytest.raises(ValueError, match="not in input"):
        TRANSFORMS.get("semantic_decontam")(
            {"benchmark_path": bench_path, "vec_col": "nope"}
        )(df)


def test_mmr_selection_structure(spark, sf_dir):
    out = ann_mmr_rerank_topk(spark, sf_dir).toPandas()
    assert set(out.q_id.unique()) == set(range(8))
    for _, g in out.groupby("q_id"):
        assert sorted(g.sel_rank) == list(range(1, _MMR_K + 1))
        assert g.c_id.nunique() == _MMR_K


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_mmr_kernel_matches_python_reference_on_random_pools(spark, seed):
    """mmr_select (the Arrow cogroup kernel) vs a pure-python greedy on
    random pools, including EXACT score ties (duplicated cosines) that
    must break on c_id ascending."""
    import random

    from etl_ml_pipeline_spark.operators.similarity import mmr_select

    rng = random.Random(seed)
    cand_rows, pair_rows, want = [], [], {}
    for qid in range(4):
        n = rng.randint(2, 8)
        ids = rng.sample(range(100), n)
        # quantized cosines force ties
        rel = {c: rng.randint(-4, 4) / 4.0 for c in ids}
        cc = {}
        for a in ids:
            for b in ids:
                if a != b:
                    key = (min(a, b), max(a, b))
                    if key not in cc:
                        cc[key] = rng.randint(-4, 4) / 4.0
                    cc[(a, b)] = cc[key]
        order = sorted(ids, key=lambda c: (-rel[c], c))
        for rk, c in enumerate(order, 1):
            cand_rows.append((qid, c, rel[c], rk))
        for a in ids:
            for b in ids:
                if a != b:
                    pair_rows.append((qid, a, b, cc[(a, b)]))
        # python reference greedy
        sel, scores = [order[0]], [0.7 * rel[order[0]]]
        while len(sel) < 3 and len(sel) < n:
            best = None
            for c in order:
                if c in sel:
                    continue
                s = 0.7 * rel[c] - 0.3 * max(cc[(c, x)] for x in sel)
                if best is None or (s, -c) > best[0]:
                    best = ((s, -c), c, s)
            sel.append(best[1])
            scores.append(best[2])
        want[qid] = list(zip(sel, scores))
    cand = spark.createDataFrame(
        cand_rows, "q_id long, c_id long, cos_qc double, rk int"
    )
    pairs = spark.createDataFrame(
        pair_rows, "q_id long, ca long, cb long, cos_cc double"
    )
    out = mmr_select(cand, pairs, k=3, lam=0.7, mu=0.3).toPandas()
    for qid, expected in want.items():
        got = out[out.q_id == qid].sort_values("sel_rank")
        assert [int(c) for c in got.c_id] == [c for c, _ in expected]
        assert [float(m) for m in got.mmr] == [s for _, s in expected]


def test_similarity_topk_mmr_mode_diversifies(spark):
    """The `mmr` mode of similarity_topk must (a) return k rows per
    query led by the pure-relevance top-1, and (b) actually diversify:
    with two near-identical top candidates and one distinct runner-up,
    plain top-2 keeps the duplicate pair, MMR's second pick skips it."""
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    # all three candidates are EQUALLY relevant to q (cos = 1/sqrt(2));
    # 11 is a scaled duplicate of 10 (pairwise cos exactly 1), 12 is
    # orthogonal to both (pairwise cos 0). Relevance ties break on
    # c_id, so exact top-2 keeps the duplicate; MMR must not.
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 1.0, 0.0]),
            (11, [2.0, 2.0, 0.0]),
            (12, [1.0, -1.0, 0.0]),
        ],
        "c_id long, c_vec array<double>",
    )
    spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "q_id long, q_vec array<double>"
    ).createOrReplaceTempView("mmr_queries")
    t = TRANSFORMS.get("similarity_topk")(
        {"queries_view": "mmr_queries", "mode": "mmr", "k": 2, "pool": 3,
         "lambda": 0.5}
    )
    out = t(corpus).toPandas().sort_values("sel_rank")
    assert [int(c) for c in out.c_id] == [10, 12]  # 11 skipped as redundant
    # exact mode would have returned [10, 11]
    exact = TRANSFORMS.get("similarity_topk")(
        {"queries_view": "mmr_queries", "mode": "exact", "k": 2}
    )(corpus).toPandas().sort_values("rank")
    assert [int(c) for c in exact.c_id] == [10, 11]


def test_similarity_topk_mmr_pool_ranks_clamped_cosine(spark):
    """The `mmr` pool is cut on the [-1, 1]-clamped cosine, as in
    ann_mmr_rerank_topk: two candidates whose raw sequential-fold
    cosines are 1.0000000000000002 (c_id 2, a copy of the query) and
    1.0 (c_id 1, a scaled copy) tie once clamped, so a pool of one
    keeps the lower c_id."""
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    corpus = spark.createDataFrame(
        [(1, [3.0, 3.0, 3.0]), (2, [1.0, 1.0, 1.0])],
        "c_id long, c_vec array<double>",
    )
    spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0])], "q_id long, q_vec array<double>"
    ).createOrReplaceTempView("mmr_clamp_queries")
    raw = TRANSFORMS.get("similarity_topk")(
        {"queries_view": "mmr_clamp_queries", "mode": "exact", "k": 2}
    )(corpus).toPandas()
    assert dict(zip(raw.c_id, raw.cos)) == {1: 1.0, 2: 1.0000000000000002}
    out = TRANSFORMS.get("similarity_topk")(
        {"queries_view": "mmr_clamp_queries", "mode": "mmr", "k": 1, "pool": 1}
    )(corpus).toPandas()
    assert [int(c) for c in out.c_id] == [1]
    assert [float(m) for m in out.mmr] == [0.7]


def test_mmr_matches_numpy_greedy_replay(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }

    def cos(a, b):
        d = float(np.dot(a, b))
        na, nb = float(np.sqrt(np.dot(a, a))), float(np.sqrt(np.dot(b, b)))
        return min(1.0, max(-1.0, d / (na * nb)))

    out = ann_mmr_rerank_topk(spark, sf_dir).toPandas()
    for qid in range(8):
        qv = vecs[qid]
        scored = sorted(
            ((cos(qv, v), -cid) for cid, v in vecs.items() if cid != qid),
            reverse=True,
        )[:_MMR_POOL]
        pool = [(-negid, c) for c, negid in scored]
        sel = [pool[0][0]]
        scores = [_MMR_LAMBDA * pool[0][1]]
        while len(sel) < _MMR_K:
            best = None
            for cid, c_qc in pool:
                if cid in sel:
                    continue
                msim = max(cos(vecs[cid], vecs[s]) for s in sel)
                score = _MMR_LAMBDA * c_qc - _MMR_MU * msim
                key = (score, -cid)
                if best is None or key > best[0]:
                    best = (key, cid, score)
            sel.append(best[1])
            scores.append(best[2])
        got = out[out.q_id == qid].sort_values("sel_rank")
        # numpy float64 reproduces the JVM fold to ~1 ulp; compare the
        # selected ids, tolerating a swap only if scores tie to 1e-9
        for want_id, want_s, got_id, got_s in zip(
            sel, scores, got.c_id, got.mmr
        ):
            assert want_id == got_id or abs(want_s - got_s) < 1e-9
            assert abs(want_s - got_s) < 1e-3  # trunc4 grid tolerance
