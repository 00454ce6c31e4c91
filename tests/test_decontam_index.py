"""Persistent benchmark gram index (operators/decontam_index.py):
build / incremental-append / gate semantics, pinned at row level."""

from __future__ import annotations

import pytest

from etl_ml_pipeline_spark.operators.decontam_index import (
    append_gram_index,
    build_gram_index,
    gate_against_index,
    gram_index_stats,
    read_gram_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


SENT_A = "the quick brown fox jumps over the lazy dog"  # grams incl. shared
SENT_B = "pack my box with five dozen liquor jugs today"
SENT_C = "the quick brown fox jumps over tall green fences"  # shares 2 5-grams with A


@pytest.fixture()
def index_path(tmp_path):
    return str(tmp_path / "gram_idx")


def test_build_counts_distinct_grams(spark, index_path):
    # one doc, 9 tokens -> 5 distinct word 5-grams
    n = build_gram_index(_docs(spark, [(1, SENT_A)]), index_path)
    assert n == 5
    idx = read_gram_index(spark, index_path)
    assert idx.count() == 5
    assert idx.select("gen").distinct().collect()[0][0] == 0


def test_empty_rebuild_refused_and_index_kept(spark, index_path):
    # 8 tokens -> 4 distinct word 5-grams
    eight = "one two three four five six seven eight"
    assert build_gram_index(_docs(spark, [(1, eight)]), index_path) == 4
    # every doc below 5 tokens: no grams; the overwrite used to run and
    # leave an unreadable directory in place of the live index
    short = _docs(spark, [(2, "too short"), (3, "four tokens right here")])
    with pytest.raises(ValueError, match="empty input"):
        build_gram_index(short, index_path)
    assert read_gram_index(spark, index_path).count() == 4


def test_append_only_new_grams(spark, index_path):
    build_gram_index(_docs(spark, [(1, SENT_A)]), index_path)
    # SENT_C shares exactly two 5-grams with SENT_A ("the quick brown
    # fox jumps", "quick brown fox jumps over"); 5 grams total -> 3 new
    n_new = append_gram_index(_docs(spark, [(2, SENT_C)]), index_path)
    assert n_new == 3
    stats = {r["gen"]: r["n_grams"] for r in
             gram_index_stats(spark, index_path).collect()}
    assert stats == {0: 5, 1: 3}
    # appending the SAME set again adds nothing (idempotent arithmetic)
    assert append_gram_index(_docs(spark, [(3, SENT_C)]), index_path) == 0


def test_gate_flags_and_short_doc_semantics(spark, index_path):
    build_gram_index(_docs(spark, [(1, SENT_A)]), index_path)
    corpus = _docs(
        spark,
        [
            (10, SENT_C),          # shares 2 grams -> contaminated
            (11, SENT_B),          # disjoint -> clean
            (12, "too short"),     # < 5 tokens: no grams, never gated
        ],
    )
    out = {
        r["id"]: (r["n_shared"], r["contaminated"])
        for r in gate_against_index(
            corpus, read_gram_index(spark, index_path)
        ).collect()
    }
    assert out == {10: (2, True), 11: (0, False), 12: (0, False)}


def test_gate_min_shared_threshold(spark, index_path):
    build_gram_index(_docs(spark, [(1, SENT_A)]), index_path)
    out = {
        r["id"]: r["contaminated"]
        for r in gate_against_index(
            _docs(spark, [(10, SENT_C)]),
            read_gram_index(spark, index_path),
            min_shared=3,
        ).collect()
    }
    assert out == {10: False}  # 2 shared grams < threshold 3


def test_retire_generation_partition_pruned(spark, index_path):
    from etl_ml_pipeline_spark.operators.decontam_index import (
        retire_gram_index_generation,
    )

    build_gram_index(_docs(spark, [(1, SENT_A)]), index_path)
    append_gram_index(_docs(spark, [(2, SENT_C)]), index_path)
    n = retire_gram_index_generation(spark, index_path, 1)
    assert n == 3
    stats = {r["gen"]: r["n_grams"] for r in
             gram_index_stats(spark, index_path).collect()}
    assert stats == {0: 5}
    # unknown generation -> loud error, storage untouched
    with pytest.raises(ValueError, match="not in index"):
        retire_gram_index_generation(spark, index_path, 7)
    # the last remaining generation is protected
    with pytest.raises(ValueError, match="last remaining"):
        retire_gram_index_generation(spark, index_path, 0)
    assert read_gram_index(spark, index_path).count() == 5


def test_decontaminate_transform_index_mode(spark, index_path):
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    build_gram_index(_docs(spark, [(1, SENT_A)]), index_path)
    cls = TRANSFORMS.get("decontaminate")
    out = cls({"index_path": index_path}).transform(
        _docs(spark, [(10, SENT_C), (11, SENT_B)])
    )
    assert [r["doc_id"] for r in out.collect()] == [11]
    # mode exclusivity: index_path + holdout_pct is a config error
    with pytest.raises(ValueError, match="exactly one"):
        cls({"index_path": index_path, "holdout_pct": 20}).transform(
            _docs(spark, [(1, SENT_A)])
        )


def test_decontaminate_index_mode_tolerates_id_column(spark, index_path):
    """A user frame that already carries an `id` column must not make
    the verdict anti-join ambiguous (id_col is `doc_id` here)."""
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    build_gram_index(_docs(spark, [(1, SENT_A)]), index_path)
    from pyspark.sql import functions as F

    corpus = _docs(spark, [(10, SENT_C), (11, SENT_B)]).withColumn(
        "id", F.col("doc_id") * 100
    )
    out = TRANSFORMS.get("decontaminate")({"index_path": index_path}).transform(
        corpus
    )
    assert [(r["doc_id"], r["id"]) for r in out.collect()] == [(11, 1100)]


def test_generation_lifecycle_retire_then_append(spark, index_path):
    """VERDICT r13 ask #5 — the r11 dedup-index generation-vacuum bug
    class: build -> append -> append -> retire a MIDDLE generation ->
    append an eval set that re-introduces the retired grams -> gate.
    Every per-generation count is recomputed independently in DuckDB
    from the raw sentences (distinct word-5-gram set arithmetic), so
    the index's first-generation-only dedup invariant is pinned by an
    engine that never sees token_hash60."""
    import duckdb

    from etl_ml_pipeline_spark.operators.decontam_index import (
        retire_gram_index_generation,
    )

    def duck_gram_count(target: str, minus: list[str]) -> int:
        """|grams(target) \\ union(grams(m) for m in minus)| via DuckDB."""
        con = duckdb.connect()
        gram_q = (
            "SELECT DISTINCT array_to_string(a[i:i+4], ' ') AS gram FROM "
            "(SELECT a, unnest(range(1, len(a) - 3)) AS i FROM "
            " (SELECT regexp_split_to_array(trim(?::VARCHAR), '\\s+') AS a))"
        )
        sql = gram_q
        params: list[str] = [target]
        for m in minus:
            sql += f" EXCEPT {gram_q}"
            params.append(m)
        n = con.execute(
            f"SELECT count(*) FROM ({sql})", params
        ).fetchone()[0]
        con.close()
        return n

    # gen 0: build on E0=A; gen 1: append E1=C; gen 2: append E2=B
    assert build_gram_index(_docs(spark, [(1, SENT_A)]), index_path) == (
        duck_gram_count(SENT_A, [])
    )
    assert append_gram_index(_docs(spark, [(2, SENT_C)]), index_path) == (
        duck_gram_count(SENT_C, [SENT_A])
    )
    assert append_gram_index(_docs(spark, [(3, SENT_B)]), index_path) == (
        duck_gram_count(SENT_B, [SENT_A, SENT_C])
    )

    # retire the MIDDLE generation (gen 1 = C's 3 exclusive grams);
    # C's 2 grams shared with A survive under gen 0 (first-gen-only)
    assert retire_gram_index_generation(spark, index_path, 1) == (
        duck_gram_count(SENT_C, [SENT_A])
    )
    # a doc made only of C's text now gates on just the 2 shared grams
    gated = {
        r["id"]: r["n_shared"]
        for r in gate_against_index(
            _docs(spark, [(10, SENT_C)]), read_gram_index(spark, index_path)
        ).collect()
    }
    assert gated == {10: duck_gram_count(SENT_C, []) - duck_gram_count(SENT_C, [SENT_A])}

    # INTERLEAVED append after the retention delete: re-shipping C must
    # re-index exactly the retired grams, under a fresh generation that
    # REUSES the retired max+1 arithmetic (gens now {0,2} -> next is 3)
    assert append_gram_index(_docs(spark, [(4, SENT_C)]), index_path) == (
        duck_gram_count(SENT_C, [SENT_A, SENT_B])
    )
    stats = {r["gen"]: r["n_grams"] for r in
             gram_index_stats(spark, index_path).collect()}
    assert stats == {
        0: duck_gram_count(SENT_A, []),
        2: duck_gram_count(SENT_B, [SENT_A, SENT_C]),
        3: duck_gram_count(SENT_C, [SENT_A, SENT_B]),
    }
    # and the gate sees C fully indexed again
    gated2 = {
        r["id"]: r["n_shared"]
        for r in gate_against_index(
            _docs(spark, [(10, SENT_C)]), read_gram_index(spark, index_path)
        ).collect()
    }
    assert gated2 == {10: duck_gram_count(SENT_C, [])}

    # a 4th live generation after the full cycle: ship a brand-new set
    fresh = "zebras yawn under nine quiet violet moons tonight alone"
    assert append_gram_index(_docs(spark, [(5, fresh)]), index_path) == (
        duck_gram_count(fresh, [SENT_A, SENT_B, SENT_C])
    )
    gens = sorted(
        r["gen"]
        for r in gram_index_stats(spark, index_path).collect()
    )
    assert gens == [0, 2, 3, 4]
