"""Segment-level ("paragraph") corpus dedup: survivor-set and reassembly
contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.dedup import segment_dedup


def _corpus(spark):
    rows = [
        (1, "a b c d e f"),          # 2 segments of 3: "a b c", "d e f"
        (2, "a b c x y z"),          # first segment duplicates doc 1's
        (3, "a b c d e f"),          # exact duplicate of doc 1 -> keeps nothing
        (4, "p q r"),                # unique single segment
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_survivors_cover_each_distinct_segment_once(spark):
    out = segment_dedup(_corpus(spark), seg_words=3)
    kept_segs = (
        out.select(F.explode(F.split("clean_text", " ")).alias("w")).count()
    )
    # distinct segments: "a b c", "d e f", "x y z", "p q r" -> 12 words
    assert kept_segs == 12
    assert out.agg(F.sum("n_kept")).first()[0] == 4


def test_exact_duplicate_doc_vanishes(spark):
    out = segment_dedup(_corpus(spark), seg_words=3)
    ids = {r["doc_id"] for r in out.collect()}
    assert 3 not in ids  # every segment already owned by doc 1
    assert ids == {1, 2, 4}


def test_first_doc_keeps_original_text_in_order(spark):
    out = {r["doc_id"]: r for r in segment_dedup(_corpus(spark), seg_words=3).collect()}
    assert out[1]["clean_text"] == "a b c d e f"
    assert out[1]["n_segs"] == 2 and out[1]["n_kept"] == 2
    # doc 2 loses its first segment, keeps its novel tail
    assert out[2]["clean_text"] == "x y z"
    assert out[2]["n_segs"] == 2 and out[2]["n_kept"] == 1


def test_short_doc_single_partial_segment(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b")], ["doc_id", "text"])
    out = segment_dedup(df, seg_words=5)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 1
    assert rows[0]["clean_text"] == "a b"


def test_registry_transform_segments(spark):
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y")], ["doc_id", "text"]
    )
    out = TRANSFORMS.get("dedup_segments")({"seg_words": 2})(df)
    rows = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert rows == {1: "a b c d", 3: "x y"}


def test_boilerplate_strip_removes_every_copy(spark):
    """A segment in > max_df distinct docs disappears from ALL carriers
    (segment dedup would keep the first); content below the threshold
    survives untouched; fully-boilerplate docs drop out."""
    from etl_ml_pipeline_spark.operators.dedup import boilerplate_strip

    df = spark.createDataFrame(
        [
            (1, "hdr one hdr two body one"),
            (2, "hdr one hdr two body two"),
            (3, "hdr one hdr two body three"),
            (4, "hdr one hdr two"),  # nothing but boilerplate
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in boilerplate_strip(df, seg_words=2, max_df=2).collect()}
    # "hdr one"/"hdr two" appear in 4 > 2 docs -> stripped everywhere
    assert set(out) == {1, 2, 3}
    assert out[1]["clean_text"] == "body one"
    assert out[2]["clean_text"] == "body two"
    assert out[1]["n_segs"] == 3 and out[1]["n_boiler"] == 2
    # dup within ONE doc does not inflate the document frequency
    solo = spark.createDataFrame(
        [(1, "rep rep rep rep body one"), (2, "other text here yes")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in boilerplate_strip(solo, seg_words=2, max_df=1).collect()}
    assert rows[1]["n_boiler"] == 0  # "rep rep" df=1 despite 2 copies in doc 1


def test_registry_transform_boilerplate(spark):
    from etl_ml_pipeline_spark.registry import TRANSFORMS

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "a b z w")], ["doc_id", "text"]
    )
    out = TRANSFORMS.get("boilerplate_strip")({"seg_words": 2, "max_df": 2})(df)
    rows = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert rows == {1: "c d", 2: "x y", 3: "z w"}


def test_dup_corpus_ids_unique_past_one_million(spark, tmp_path):
    """Injected copies of the catalog's dup'd corpus never reuse a base
    doc_id, on the Spark side or in the DuckDB oracle, even when base ids
    reach past 1M (doc 7 is copied; 1_000_007 is a base row)."""
    import duckdb
    import pandas as pd

    from etl_ml_pipeline_spark.queries.dedup_q import _DUP_CORPUS_SQL, _dup_corpus

    pd.DataFrame(
        {"doc_id": [7, 1_000_007], "text": ["seven words", "a million seven"]}
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    ids = [r.doc_id for r in _dup_corpus(spark, str(tmp_path)).collect()]
    assert len(ids) == 3 and len(set(ids)) == 3
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')"
        )
        oracle_ids = [r[0] for r in con.sql(_DUP_CORPUS_SQL).fetchall()]
    assert sorted(oracle_ids) == sorted(ids)
