"""Persistent benchmark gram index for cross-run decontamination.

The batch decontamination operators (``operators/text.contamination_pairs``,
the ``decontaminate`` transform) re-tokenize the BENCHMARK side on every
query. For a fixed eval suite that is pure rebuild waste — the benchmark
changes only when a new eval set ships. This module persists the
benchmark as its distinct 60-bit gram-hash table (the only thing the
gate join ever reads: grams, never text) the same way
``streaming/dedup_index`` persists MinHash signatures, so the per-run
cost of the decontamination gate is ONE equi-join against a small
parquet table:

- :func:`build_gram_index` — batch-build from benchmark docs;
- :func:`append_gram_index` — incremental: a NEW eval set ships, only
  its previously-unseen gram hashes are appended (anti-join against
  the live index; returns how many were new);
- :func:`gate_against_index` — flag corpus docs sharing >= min_shared
  grams with the index;
- :func:`gram_index_stats` — size/provenance summary.

Scale posture: a real benchmark suite is eval-set-sized (1e3..1e6
docs), so its distinct-gram table is MBs — the gate join's build side
is tiny and Catalyst/AQE broadcasts it from real size stats; we do NOT
force the hint (the round-12/13 lesson: a forced benchmark-side
broadcast is a scale-killer the moment a caller passes a corpus
fraction; VERDICT r12 #1). The append path is one anti-join on the
hash, linear in the NEW eval set only. The index carries a ``gen``
provenance column so retention ("drop eval-set generation N") is a
partition-pruned delete, mirroring the dedup index's retention story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.gen_index import build_generation0
from etl_ml_pipeline_spark.operators.text import token_hash60, word_ngrams


def _doc_grams(
    bench: DataFrame, text_col: str, n: int
) -> DataFrame:
    """60-bit gram hashes of a benchmark frame, distinct per doc: (gh long)."""
    return bench.select(
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("gram")
    ).select(token_hash60(F.col("gram")).alias("gh"))


def _bench_grams(
    bench: DataFrame, text_col: str, n: int
) -> DataFrame:
    """DISTINCT 60-bit gram hashes of a benchmark frame: (gh long)."""
    return _doc_grams(bench, text_col, n).distinct()


def build_gram_index(
    bench: DataFrame,
    index_path: str,
    text_col: str = "text",
    n: int = 5,
) -> int:
    """Batch-build the index parquet: (gh long, gen int), gen=0.
    Returns the number of distinct grams written. Refuses (ValueError,
    storage untouched) a bench with no grams — e.g. every doc shorter
    than ``n`` tokens."""
    grams = _doc_grams(bench, text_col, n)
    return build_generation0(
        grams.distinct(), index_path, read_gram_index, "build_gram_index",
        probe=grams,
    )


def read_gram_index(spark: SparkSession, index_path: str) -> DataFrame:
    """Live index scan: (gh long, gen int)."""
    return spark.read.parquet(index_path).select(
        F.col("gh").cast("long").alias("gh"), F.col("gen").cast("int").alias("gen")
    )


def append_gram_index(
    new_bench: DataFrame,
    index_path: str,
    text_col: str = "text",
    n: int = 5,
) -> int:
    """Incrementally index a NEW eval set: append only gram hashes not
    already present (anti-join against the live index — linear in the
    new set, never a rebuild), under the next ``gen`` partition.
    Returns the number of grams appended. The append is a parquet
    partition add (gen=K is written once and never rewritten), so a
    reader mid-append sees either the old or the new generation set —
    the same visibility contract as the dedup index's batch appends."""
    spark = new_bench.sparkSession
    live = read_gram_index(spark, index_path)
    next_gen = live.agg(F.max("gen")).first()[0] + 1
    fresh = (
        _bench_grams(new_bench, text_col, n)
        .join(live.select("gh"), "gh", "left_anti")
        .withColumn("gen", F.lit(next_gen).cast("int"))
    )
    # count AFTER the write from storage, so the returned number is the
    # committed truth, not a separate evaluation of a nondeterministic
    # plan branch
    fresh.write.mode("append").partitionBy("gen").parquet(index_path)
    return (
        read_gram_index(spark, index_path)
        .filter(F.col("gen") == next_gen)
        .count()
    )


def gate_against_index(
    corpus: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Per-corpus-doc contamination verdict against the persisted index:
    (id, n_shared long, contaminated bool). One map-side gram explode
    on the corpus, one equi-join on the hash (no hint — the index is
    small, AQE broadcasts it from real stats), one id-keyed count.
    Docs with < n tokens produce no grams and come back n_shared=0
    (left join keeps them) — they cannot be contaminated AT this gram
    size, matching the streaming replay's documented semantics."""
    grams = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(word_ngrams(F.col(text_col), n))
            ).alias("gram"),
        )
        .withColumn("gh", token_hash60(F.col("gram")))
        .drop("gram")
    )
    hits = (
        grams.join(index.select("gh").distinct(), "gh")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= min_shared).alias(
                "contaminated"
            ),
        )
    )


def retire_gram_index_generation(
    spark: SparkSession, index_path: str, gen: int
) -> int:
    """Retention: drop one eval-set generation — a partition-pruned
    directory delete (gen is the parquet partition column), no rewrite
    of the surviving generations. Refuses to retire the LAST remaining
    generation (an empty index directory would fail schema inference
    on the next read — the same guard as ivf_index_vacuum's
    all-tombstoned case). Returns the number of grams dropped.

    Semantic note (mirrors the dedup index's retention story): grams
    whose ONLY provenance was the retired generation stop gating new
    corpus runs; grams shared with an earlier eval set remain indexed
    under that earlier generation (append dedups against the live
    set, so a gram lives in its FIRST generation only). Shared
    machinery in operators/gen_index.py (same dance as the phash
    index)."""
    from etl_ml_pipeline_spark.operators.gen_index import retire_generation

    return retire_generation(
        spark,
        index_path,
        gen,
        read_gram_index(spark, index_path),
        "retire_gram_index_generation",
    )


def gram_index_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-generation index summary: (gen, n_grams) — the ops view."""
    from etl_ml_pipeline_spark.operators.gen_index import generation_stats

    return generation_stats(read_gram_index(spark, index_path), "n_grams")
