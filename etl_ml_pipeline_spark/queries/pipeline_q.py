"""End-to-end training-data-prep chain as ONE catalog query.

Every stage of `configs/training_data_prep.yaml`'s governance chain —
score -> language/quality gate -> exact dedup -> stratified hash
sample -> token-budget packing — already has its own oracle-checked
catalog entry, but a user of the pipeline runs them COMPOSED, and
composition is where silent bugs live (a stage that reorders rows,
drops a column, or re-derives a stat differently than its neighbor
consumed it). This query chains the real operators
(`operators/text.py`, `operators/dedup.exact_dedup`,
`operators/relational.grouped_running_sum`) into one lazy Catalyst plan
and oracle-checks the FINAL packed output, so a green hash certifies
the whole chain end to end — the integration twin of the per-stage
entries.

Scale: scoring, gating, and sampling are map-side projections/filters
fused into the scan stage by whole-stage codegen; the data-scale
shuffles are the fingerprint dedup exchange and the prefix sum's
__pid hash exchange (each evaluated once per prefix-sum branch — the
documented two-evaluation trade of the deterministic-bucket design;
pass pin_input=True to trade a storage write for one evaluation at
cluster scale), plus the small pack-id aggregation. Bucket bounds come
from a guaranteed-cheap raw-id scan. No driver materialization between
stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators import text as X
from etl_ml_pipeline_spark.queries.tables import t
from etl_ml_pipeline_spark.queries.text_q import _STOP_SQL_LIST, _TOKS_DUCK

_GATE_LANGS = ("en", "de", "es", "fr", "zh")
_EN_RATE, _DEFAULT_RATE = 80, 50
_PACK_BUDGET = 512


def training_data_prep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.dedup import exact_dedup
    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    docs = t(spark, sf_dir, "documents")
    c = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        X.token_count(c).cast("long").alias("n_tok"),
        X.quality_score(c).alias("q"),
    )
    gated = scored.filter(
        F.col("lang").isin(*_GATE_LANGS)
        & (F.col("q") >= 0.4)
        & (F.col("n_tok") >= 10)
    )
    deduped = exact_dedup(gated, "text", "doc_id")
    rate = F.when(F.col("lang") == "en", F.lit(_EN_RATE)).otherwise(
        F.lit(_DEFAULT_RATE)
    )
    sampled = deduped.filter(
        X.token_hash60(F.col("doc_id").cast("string")) % 100 < rate
    ).select("doc_id", "lang", "n_tok")
    # r15 optimization: pin_input=True — the prefix sum's two branches
    # re-derived the whole score->gate->dedup->sample lineage (the
    # documented two-evaluation trade), and the quality-score
    # tokenization is expensive enough that the post-exchange pin wins
    # NOW, not just at cluster scale: interleaved A/B at sf0.1 1.405s
    # -> 1.119s (0.80x). The pin lands AFTER the range exchange, so
    # both branches read the stored partitions with no further shuffle
    # — pinning the input frame instead (pre-exchange) measured SLOWER
    # than the unpinned diamond (2.49s vs 2.19s: each branch still
    # pays its own __pid shuffle). bounds_df is unused on the pinned
    # path (the sampled range IS the layout); the decontam twin keeps
    # the arithmetic-bucket + raw-bounds shape because its lineage is
    # already narrow behind the anti-join checkpoint. Rows unchanged
    # (oracle-green).
    cum = grouped_running_sum(
        sampled, "n_tok", [], ["doc_id"], "cum_tok", pin_input=True
    )
    packed = cum.withColumn(
        "pack_id",
        F.floor((F.col("cum_tok") - F.col("n_tok")) / _PACK_BUDGET).cast("long"),
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


_LANGS_SQL = ", ".join(f"'{l}'" for l in _GATE_LANGS)
_HASH_DUCK = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"

_PREP_E2E_SQL = f"""
WITH feats AS (
  SELECT doc_id, lang, text,
         len({_TOKS_DUCK}) AS n_tok,
         len(list_distinct({_TOKS_DUCK})) AS n_uniq,
         len(list_filter({_TOKS_DUCK}, tk -> tk IN ({_STOP_SQL_LIST}))) AS n_stop
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text, n_tok,
         CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 0.4 ELSE 0.0 END
         + least(CAST(n_uniq AS DOUBLE) / n_tok, 0.5) * 0.6
         + CASE WHEN CAST(n_stop AS DOUBLE) / n_tok BETWEEN 0.01 AND 0.5
                THEN 0.2 ELSE 0.0 END AS q
  FROM feats
),
gated AS (
  SELECT * FROM scored
  WHERE lang IN ({_LANGS_SQL}) AND q >= 0.4 AND n_tok >= 10
),
deduped AS (
  SELECT doc_id, lang, n_tok FROM (
    SELECT doc_id, lang, n_tok,
           row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
             ORDER BY doc_id
           ) AS rn
    FROM gated
  ) WHERE rn = 1
),
sampled AS (
  SELECT doc_id, lang, n_tok FROM deduped
  WHERE {_HASH_DUCK} % 100
        < CASE WHEN lang = 'en' THEN {_EN_RATE} ELSE {_DEFAULT_RATE} END
),
cum AS (
  SELECT doc_id, lang, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tok
  FROM sampled
)
SELECT CAST(floor((cum_tok - n_tok) / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       count(DISTINCT lang) AS n_langs,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum
GROUP BY 1
ORDER BY pack_id
"""


# ---------------------------------------------------------------------------
# training_data_prep_decontam_e2e — the round-12 flagship: the same
# governance chain with the DECONTAMINATION stage a real pre-training
# prep runs between dedup and sampling. The corpus is hash-split
# 80/20; the pipeline prepares the TRAIN side and drops any training
# document that shares a word 5-gram with the held-out side (the
# leakage gate split_decontamination_stats audits, here enforced
# in-plan via one anti-join). Oracle-checks the final packed output,
# so a green hash certifies score -> gate -> dedup -> decontaminate ->
# sample -> pack composed as ONE lazy plan.
# Scale: the decontamination stage adds one token-scale gram-hash
# equi-join (SHUFFLED on the hash — both sides are corpus fractions,
# so no broadcast hint; VERDICT r12 #1) and one id-keyed anti-join.
# The gram side reads the `train` split (not `gated` or `deduped`) so
# the dedup window has exactly one consumer, and the post-anti-join
# 3-column frame is pinned with a lazy localCheckpoint for the prefix
# sum's two branches — the round-12 plan re-evaluated the whole
# score->gate->dedup->decontam lineage 4x / scanned the corpus 8x
# (VERDICT r12 #2). Per-execution cost now: one dedup exchange, one
# gram-join shuffle, the prefix sum's __pid exchange over the pinned
# narrow frame, raw-scan covering bounds.
# ---------------------------------------------------------------------------


def training_data_prep_decontam_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.dedup import exact_dedup
    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum
    from etl_ml_pipeline_spark.operators.text import contamination_pairs

    docs = t(spark, sf_dir, "documents")
    b = X.token_hash60(F.col("doc_id").cast("string")) % 10
    train, holdout = docs.filter(b < 8), docs.filter(b >= 8)
    c = F.col("text")
    scored = train.select(
        "doc_id",
        "lang",
        "text",
        X.token_count(c).cast("long").alias("n_tok"),
        X.quality_score(c).alias("q"),
    )
    gated = scored.filter(
        F.col("lang").isin(*_GATE_LANGS)
        & (F.col("q") >= 0.4)
        & (F.col("n_tok") >= 10)
    )
    # Single-evaluation topology (VERDICT r12 #2 — the round-12 plan
    # scanned documents.parquet 8x with zero ReusedExchange):
    # 1. The contamination gate reads TRAIN, not deduped (r16; r12 had
    #    moved it deduped→gated) — a doc's verdict depends only on its
    #    own text vs the holdout grams, so grams may be enumerated for
    #    ANY superset of the anti-join's left side: extra verdicts for
    #    rows the gate/dedup dropped can't match `clean`'s left side.
    #    Reading `train` drops quality_score (three tokenize passes)
    #    from the gram branch entirely — measured at sf0.1:
    #    contamination side 3.36s from `gated` vs 1.78s from `train`
    #    (noop-sink probes), full query 3.28 -> 1.93 interleaved. The
    #    dedup window still has exactly one consumer.
    # 2. Only the post-anti-join 3-column frame is pinned (lazy
    #    localCheckpoint) for the prefix sum's two branches. Pinning
    #    `deduped` itself would checkpoint the full TEXT column —
    #    measured SLOWER than the unpinned 4x re-evaluation by sf1
    #    (9.4s vs 6.3s; scripts/r13_decontam_ab.json) — the narrow pin
    #    wins at every measured sf.
    # Shape pinned by tests/test_plans.py::test_decontam_e2e_lineage_pinned.
    deduped = exact_dedup(gated.drop("q"), "text", "doc_id")
    contaminated = (
        contamination_pairs(
            train.select("doc_id", "text"), holdout, n=5, min_shared=1
        )
        .select("corpus_id")
        .distinct()
    )
    rate = F.when(F.col("lang") == "en", F.lit(_EN_RATE)).otherwise(
        F.lit(_DEFAULT_RATE)
    )
    clean = (
        deduped.join(
            contaminated, F.col("doc_id") == F.col("corpus_id"), "left_anti"
        )
        .select("doc_id", "lang", "n_tok")
        .localCheckpoint(eager=False)
    )
    sampled = clean.filter(
        X.token_hash60(F.col("doc_id").cast("string")) % 100 < rate
    ).select("doc_id", "lang", "n_tok")
    bounds = docs.agg(
        F.min(F.col("doc_id").cast("double")).alias("__lo"),
        F.max(F.col("doc_id").cast("double")).alias("__hi"),
    )
    cum = grouped_running_sum(
        sampled, "n_tok", [], ["doc_id"], "cum_tok", bounds_df=bounds
    )
    packed = cum.withColumn(
        "pack_id",
        F.floor((F.col("cum_tok") - F.col("n_tok")) / _PACK_BUDGET).cast("long"),
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


_PREP_DECONTAM_SQL = f"""
WITH split AS (
  SELECT *, {_HASH_DUCK} % 10 AS b FROM documents
),
feats AS (
  SELECT doc_id, lang, text,
         len({_TOKS_DUCK}) AS n_tok,
         len(list_distinct({_TOKS_DUCK})) AS n_uniq,
         len(list_filter({_TOKS_DUCK}, tk -> tk IN ({_STOP_SQL_LIST}))) AS n_stop
  FROM split WHERE b < 8
),
scored AS (
  SELECT doc_id, lang, text, n_tok,
         CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 0.4 ELSE 0.0 END
         + least(CAST(n_uniq AS DOUBLE) / n_tok, 0.5) * 0.6
         + CASE WHEN CAST(n_stop AS DOUBLE) / n_tok BETWEEN 0.01 AND 0.5
                THEN 0.2 ELSE 0.0 END AS q
  FROM feats
),
gated AS (
  SELECT * FROM scored
  WHERE lang IN ({_LANGS_SQL}) AND q >= 0.4 AND n_tok >= 10
),
deduped AS (
  SELECT doc_id, lang, text, n_tok FROM (
    SELECT doc_id, lang, text, n_tok,
           row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
             ORDER BY doc_id
           ) AS rn
    FROM gated
  ) WHERE rn = 1
),
train_grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk) - 3),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
                 || ' ' || tk[i+4]))) AS gram
  FROM (SELECT doc_id, {_TOKS_DUCK} AS tk FROM deduped)
),
holdout_grams AS (
  SELECT unnest(list_distinct(list_transform(range(1, len(tk) - 3),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
                 || ' ' || tk[i+4]))) AS gram
  FROM (SELECT {_TOKS_DUCK} AS tk FROM split WHERE b >= 8)
),
contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id,
               ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
        FROM train_grams) t
  JOIN (SELECT DISTINCT ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
        FROM holdout_grams) h USING (gh)
),
sampled AS (
  SELECT doc_id, lang, n_tok FROM deduped
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND {_HASH_DUCK} % 100
        < CASE WHEN lang = 'en' THEN {_EN_RATE} ELSE {_DEFAULT_RATE} END
),
cum AS (
  SELECT doc_id, lang, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tok
  FROM sampled
)
SELECT CAST(floor((cum_tok - n_tok) / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       count(DISTINCT lang) AS n_langs,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum
GROUP BY 1
ORDER BY pack_id
"""


QUERIES = {
    "training_data_prep_e2e": training_data_prep_e2e,
    "training_data_prep_decontam_e2e": training_data_prep_decontam_e2e,
}

ORACLES = {
    "training_data_prep_e2e": _PREP_E2E_SQL,
    "training_data_prep_decontam_e2e": _PREP_DECONTAM_SQL,
}
