"""Deterministic sampling queries over the documents table.

At training-data scale, sampling must be REPRODUCIBLE (same subset on
re-run, resumable after failure) and PUSHABLE (a filter, not a
shuffle). ``df.sample()`` is neither across retries/engines — partition
RNG seeds change with partitioning. The standard fix is hash-mod
sampling on a stable key: ``h(id) % N < rate*N``. That's a pure
map-side predicate: no shuffle, survives any repartitioning, and the
SAME rows come out of Spark, DuckDB, or a SQL warehouse — which is
exactly how the oracle validates it. Hash = md5-derived 60-bit int
(``operators.text.token_hash60``), identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.text import token_hash60
from etl_ml_pipeline_spark.queries.tables import t

_HASH_DUCK = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"

# Per-language sampling rates (percent) for the stratified variant — the
# up/down-sampling move every multilingual training mix needs.
_STRATA = {"en": 80, "zh": 40}
_DEFAULT_RATE = 20


def _bucket() -> F.Column:
    return token_hash60(F.col("doc_id").cast("string")) % 100


def sample_hash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic hash sample. Scale: map-side filter only — the
    predicate references one column and pushes to the scan."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.filter(_bucket() < 10)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


_HASH_SAMPLE_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_HASH_DUCK} % 100 < 10
ORDER BY doc_id
"""


def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rates (up-sample en, down-sample tail languages),
    verified by per-stratum counts. Scale: still one map-side predicate —
    the rate lookup is a CASE on the stratum column, no join, no shuffle;
    totals and sampled counts come from one aggregation pass."""
    docs = t(spark, sf_dir, "documents")
    rate = F.col("lang")
    expr = F.lit(_DEFAULT_RATE)
    for lang, r in sorted(_STRATA.items()):
        expr = F.when(rate == lang, F.lit(r)).otherwise(expr)
    return (
        docs.withColumn("__in", (_bucket() < expr).cast("int"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("__in").alias("n_sampled"),
        )
        .orderBy("lang")
    )


_CASE_RATE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in sorted(_STRATA.items())
) + f" ELSE {_DEFAULT_RATE} END"

_STRATIFIED_SQL = f"""
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN {_HASH_DUCK} % 100 < {_CASE_RATE}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# sample_mixture_lang — data mixing: hit TARGET corpus proportions per
# language from skewed source counts. Per-language keep-thresholds are
# derived from the share table and the actual counts (integer
# arithmetic -> deterministic), then applied as the usual hash-mod
# filter. The standard "mix web/books/code at fixed ratios" step of
# training-set assembly, as one aggregate + one broadcast join.
# ---------------------------------------------------------------------------

_MIX_SHARES = {"en": 0.4, "zh": 0.2, "de": 0.15, "es": 0.15, "fr": 0.1}
_MIX_FRACTION = 0.6  # output corpus target size as a fraction of input


def sample_mixture_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    share = F.lit(None).cast("double")
    for lang, s in sorted(_MIX_SHARES.items()):
        share = F.when(F.col("lang") == lang, F.lit(s)).otherwise(share)
    # threshold in basis points of the hash space; min(10000, ...) caps
    # languages whose share asks for more rows than exist
    thr = F.least(
        F.lit(10000).cast("long"),
        F.floor(
            share * F.floor(F.col("__N") * _MIX_FRACTION) * 10000 / F.col("n_total")
        ),
    )
    # r15 optimization: corpus total as a window sum over the per-lang
    # counts (sum of group counts IS the corpus count) instead of a
    # separate count branch + crossJoin diamond — one corpus aggregate
    # instead of two. Same integer operands, same thresholds.
    from pyspark.sql import Window as W

    plan = counts.withColumn(
        "__N", F.sum("n_total").over(W.partitionBy())
    ).select("lang", "n_total", thr.alias("threshold"))
    sampled = (
        docs.join(F.broadcast(plan), "lang")
        .filter(token_hash60(F.col("doc_id").cast("string")) % 10000 < F.col("threshold"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        plan.join(sampled, "lang", "left")
        .select(
            "lang",
            "n_total",
            "threshold",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
        .orderBy("lang")
    )


def _mixture_oracle() -> str:
    share_case = " ".join(
        f"WHEN '{lang}' THEN {s}" for lang, s in sorted(_MIX_SHARES.items())
    )
    return f"""
WITH counts AS (
  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
),
total AS (SELECT count(*) AS n FROM documents),
plan AS (
  SELECT lang, n_total,
         least(10000, CAST(floor(
           (CASE lang {share_case} END)
           * floor(n * {_MIX_FRACTION}) * 10000 / n_total) AS BIGINT)) AS threshold
  FROM counts CROSS JOIN total
),
sampled AS (
  SELECT d.lang, count(*) AS n_sampled
  FROM documents d JOIN plan p USING (lang)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
        < p.threshold
  GROUP BY d.lang
)
SELECT p.lang, p.n_total, p.threshold, coalesce(s.n_sampled, 0) AS n_sampled
FROM plan p LEFT JOIN sampled s USING (lang)
ORDER BY p.lang
"""


# ---------------------------------------------------------------------------
# pack_documents_budget — sequence packing: assign documents, in stable
# doc_id order, to fixed token-budget packs (pack = the bin where the
# document's starting token offset lands). The LLM-training prep step
# that turns a corpus into near-constant-length training sequences.
# NOTE: this variant bin-LABELS whole documents — a doc with
# n_tok > _PACK_BUDGET overflows the pack it starts in (by design: docs
# stay whole). For strict capacity semantics use
# pack_documents_capacity below, which splits at pack boundaries.
# Scale: the cumulative token offset uses the two-phase distributed
# prefix sum (operators.relational.grouped_running_sum) — exact long
# arithmetic, no single-task window.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


def pack_documents_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum
    from etl_ml_pipeline_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    cum = grouped_running_sum(docs, "n_tok", [], ["doc_id"], "cum_tok")
    packed = cum.withColumn(
        "pack_id",
        F.floor((F.col("cum_tok") - F.col("n_tok")) / _PACK_BUDGET).cast("long"),
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM toks
)
SELECT CAST(floor((cum_tok - n_tok) / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum
GROUP BY 1
ORDER BY pack_id
"""


# ---------------------------------------------------------------------------
# pack_documents_capacity — capacity-RESPECTING sequence packing: the
# token stream is cut at exact pack boundaries, so every pack holds
# exactly _PACK_BUDGET tokens (except the final partial) and a document
# longer than the budget spans multiple packs (the standard concat-and-
# chunk LLM pretraining layout). Contrast pack_documents_budget, which
# bin-LABELS whole docs by starting offset and lets a long doc overflow
# its pack.
#
# Scale: same two-phase distributed prefix sum for the global offset,
# then each doc explodes into only the packs its token span touches
# (ceil(n_tok/budget)+1 at most) — no per-pack sequential state, no
# driver loop; DuckDB replays it with generate_series.
# ---------------------------------------------------------------------------


def pack_documents_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum
    from etl_ml_pipeline_spark.operators.text import token_count

    B = _PACK_BUDGET
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", token_count(F.col("text")).cast("long").alias("n_tok"))
        .filter(F.col("n_tok") > 0)
    )
    cum = grouped_running_sum(docs, "n_tok", [], ["doc_id"], "cum_tok")
    spans = cum.select(
        "doc_id",
        "n_tok",
        (F.col("cum_tok") - F.col("n_tok")).alias("s"),  # [s, e) token span
        F.col("cum_tok").alias("e"),
    )
    exploded = spans.select(
        "doc_id",
        "s",
        "e",
        F.explode(
            F.sequence(F.expr(f"s div {B}"), F.expr(f"(e - 1) div {B}"))
        ).alias("pack_id"),
    )
    tok_in_pack = F.least(F.col("e"), (F.col("pack_id") + 1) * B) - F.greatest(
        F.col("s"), F.col("pack_id") * B
    )
    return (
        exploded.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(tok_in_pack).alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


_PACK_CAPACITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tok
  FROM toks WHERE n_tok > 0
),
spans AS (
  SELECT doc_id, cum_tok - n_tok AS s, cum_tok AS e FROM cum
),
exploded AS (
  SELECT doc_id, s, e, gs.p AS pack_id
  FROM spans, LATERAL unnest(generate_series(s // {_PACK_BUDGET},
                                             (e - 1) // {_PACK_BUDGET})) gs(p)
)
SELECT pack_id,
       count(*) AS n_docs,
       CAST(sum(least(e, (pack_id + 1) * {_PACK_BUDGET})
                - greatest(s, pack_id * {_PACK_BUDGET})) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM exploded
GROUP BY pack_id
ORDER BY pack_id
"""


# ---------------------------------------------------------------------------
# pack_ffd_documents — first-fit-decreasing episode assembly (VERDICT
# r12 next #7): the fill-optimizing contrast to the order-preserving
# prefix-sum packers. Documents shard into _FFD_SEGMENTS deterministic id-hash
# segments; EXACT FFD runs per segment inside an Arrow-batched
# applyInPandas group (operators/packing.py — bins never span
# segments, task state = one segment's bin loads). FFD itself is not
# SQL-expressible, so the recordable output is the per-segment
# CONTRACT: exact columns the oracle recomputes from raw data (docs,
# tokens, oversize count, the packing lower bound n_oversize +
# ceil(rest/capacity)) plus booleans certifying the realized packing
# (every bin fits, bin count within [lower bound, the first-fit
# at-most-one-half-empty-bin upper bound]) that the oracle pins
# literally TRUE — the theta-sketch contract pattern. Exact FFD
# behavior is additionally pinned row-level + property-tested against
# a reference packer in tests/test_packing.py.
# Scale: one segment-hash shuffle; packing state bounded per segment;
# no text movement (id+size only).
# ---------------------------------------------------------------------------

_FFD_CAPACITY = 512
# 32 segments: per-segment packing state stays small and the Arrow
# groups saturate local[32]; the fill cost is at most one under-half
# bin PER SEGMENT. The per-item cost is O(log bins) (segment-tree
# first-fit), so per-decade scaling is governed by the item count,
# not bins^2 — the sf10 ladder rung regressed superlinear with the
# naive scan + 4 fat segments.
_FFD_SEGMENTS = 32


def pack_ffd_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.packing import (
        ffd_pack,
        ffd_segment_contract,
    )
    from etl_ml_pipeline_spark.operators.text import token_count

    docs = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
        )
        .filter(F.col("n_tok") > 0)
    )
    packed = ffd_pack(
        docs, "n_tok", "doc_id", _FFD_CAPACITY, n_segments=_FFD_SEGMENTS
    )
    return ffd_segment_contract(packed, _FFD_CAPACITY).orderBy("segment_id")


# ---------------------------------------------------------------------------
# pack_attention_boundary_stats — sequence-packing LOSS accounting
# (VERDICT r13 ask #7), the number a trainer actually reads off a
# packed dataset: with each non-oversize FFD bin standing in for one
# context window of ctx_len = _FFD_CAPACITY tokens (the winning
# candidate family from context_length_planning), report per segment
# how much of the window budget is PAD (bin residuals) and how many
# cross-document attention boundaries the packing introduced
# (docs_in_bin - 1 per bin — each one a position where attention must
# be masked or accepted as contamination).
#
# Oracle pattern = the FFD contract's: exact columns DuckDB recomputes
# from raw data (fit_docs, fit_tokens, n_oversize, min_pad_tokens =
# ceil(fit_tokens/ctx)*ctx - fit_tokens, an information-theoretic
# floor on pad under ANY packing), plus booleans folding the REALIZED
# packing into invariants the oracle pins literally TRUE:
#   pad_consistent        sum(ctx - load) over fit bins
#                           == n_fit_bins*ctx - fit_tokens
#   pad_lb_ok / pad_ub_ok realized pad within [min_pad_tokens,
#                           ub_fit_bins*ctx - fit_tokens] where
#                           ub_fit_bins = (2*fit_tokens) div ctx + 1
#                           (the first-fit half-empty-bin guarantee)
#   boundaries_consistent realized boundaries == fit_docs - n_fit_bins
#                           (each fit doc lives in exactly one bin)
#   boundaries_bounded    within [fit_docs - ub_fit_bins,
#                           fit_docs - lb_fit_bins]
# All bound arithmetic is exact long `div` on BOTH engines (the
# ADVICE r13 #2 lesson). Scale: same single segment-hash shuffle as
# pack_ffd_documents, then |segments| rows of arithmetic.
# ---------------------------------------------------------------------------


def pack_attention_boundary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.packing import ffd_pack
    from etl_ml_pipeline_spark.operators.text import token_count

    cap = _FFD_CAPACITY
    docs = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
        )
        .filter(F.col("n_tok") > 0)
    )
    packed = ffd_pack(docs, "n_tok", "doc_id", cap, n_segments=_FFD_SEGMENTS)
    bins = packed.groupBy("segment_id", "bin_id").agg(
        F.count("*").alias("bin_docs"),
        F.sum("size").alias("bin_tokens"),
        F.max(F.col("oversize").cast("int")).alias("bin_oversize"),
    )
    fit = F.col("bin_oversize") == 0
    seg = bins.groupBy("segment_id").agg(
        F.coalesce(F.sum(F.when(fit, F.col("bin_docs"))), F.lit(0))
        .cast("long")
        .alias("fit_docs"),
        F.coalesce(F.sum(F.when(fit, F.col("bin_tokens"))), F.lit(0))
        .cast("long")
        .alias("fit_tokens"),
        F.sum("bin_oversize").cast("long").alias("n_oversize"),
        F.coalesce(F.sum(F.when(fit, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("_n_fit_bins"),
        F.coalesce(F.sum(F.when(fit, cap - F.col("bin_tokens"))), F.lit(0))
        .cast("long")
        .alias("_pad"),
        F.coalesce(F.sum(F.when(fit, F.col("bin_docs") - 1)), F.lit(0))
        .cast("long")
        .alias("_boundaries"),
    )
    lb_bins = F.expr(f"(fit_tokens + {cap} - 1) div {cap}")
    ub_bins = F.expr(f"(2 * fit_tokens) div {cap}") + F.lit(1)
    min_pad = lb_bins * cap - F.col("fit_tokens")
    return (
        seg.select(
            "segment_id",
            F.lit(cap).cast("long").alias("ctx_len"),
            "fit_docs",
            "fit_tokens",
            "n_oversize",
            min_pad.cast("long").alias("min_pad_tokens"),
            (
                F.col("_pad")
                == F.col("_n_fit_bins") * cap - F.col("fit_tokens")
            ).alias("pad_consistent"),
            (F.col("_pad") >= min_pad).alias("pad_lb_ok"),
            (F.col("_pad") <= ub_bins * cap - F.col("fit_tokens")).alias(
                "pad_ub_ok"
            ),
            (
                F.col("_boundaries")
                == F.col("fit_docs") - F.col("_n_fit_bins")
            ).alias("boundaries_consistent"),
            (
                (F.col("_boundaries") >= F.col("fit_docs") - ub_bins)
                & (F.col("_boundaries") <= F.col("fit_docs") - lb_bins)
            ).alias("boundaries_bounded"),
        )
        .orderBy("segment_id")
    )


_PACK_BOUNDARY_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
items AS (
  SELECT doc_id, n_tok,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % {_FFD_SEGMENTS} AS INT) AS segment_id
  FROM toks WHERE n_tok > 0
),
seg AS (
  SELECT segment_id,
         sum(CASE WHEN n_tok <= {_FFD_CAPACITY} THEN 1 ELSE 0 END) AS fit_docs,
         sum(CASE WHEN n_tok <= {_FFD_CAPACITY} THEN n_tok ELSE 0 END) AS fit_tokens,
         sum(CASE WHEN n_tok > {_FFD_CAPACITY} THEN 1 ELSE 0 END) AS n_oversize
  FROM items GROUP BY 1
)
SELECT segment_id,
       CAST({_FFD_CAPACITY} AS BIGINT) AS ctx_len,
       CAST(fit_docs AS BIGINT) AS fit_docs,
       CAST(fit_tokens AS BIGINT) AS fit_tokens,
       CAST(n_oversize AS BIGINT) AS n_oversize,
       CAST(((fit_tokens + {_FFD_CAPACITY} - 1) // {_FFD_CAPACITY})
            * {_FFD_CAPACITY} - fit_tokens AS BIGINT) AS min_pad_tokens,
       TRUE AS pad_consistent,
       TRUE AS pad_lb_ok,
       TRUE AS pad_ub_ok,
       TRUE AS boundaries_consistent,
       TRUE AS boundaries_bounded
FROM seg
ORDER BY segment_id
"""


_FFD_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
items AS (
  SELECT doc_id, n_tok,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % {_FFD_SEGMENTS} AS INT) AS segment_id
  FROM toks WHERE n_tok > 0
),
seg AS (
  SELECT segment_id,
         count(*) AS n_docs,
         sum(n_tok) AS seg_tokens,
         sum(CASE WHEN n_tok > {_FFD_CAPACITY} THEN 1 ELSE 0 END) AS n_oversize,
         sum(CASE WHEN n_tok > {_FFD_CAPACITY} THEN n_tok ELSE 0 END) AS ot
  FROM items GROUP BY 1
)
SELECT segment_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(seg_tokens AS BIGINT) AS seg_tokens,
       CAST(n_oversize AS BIGINT) AS n_oversize,
       CAST(n_oversize
            + ((seg_tokens - ot) + {_FFD_CAPACITY} - 1) // {_FFD_CAPACITY}
            AS BIGINT) AS lb_bins,
       TRUE AS bins_fit, TRUE AS lb_ok, TRUE AS ub_ok
FROM seg
ORDER BY segment_id
"""


# ---------------------------------------------------------------------------
# sample_epoch_allocation — data-constrained mixture planning (the
# public "how many epochs of each source" budget sheet, cf. the
# data-constrained scaling literature): given per-language unique token
# counts, a total training budget of 2x the corpus (forcing repetition
# somewhere), sqrt-temperature source weighting, and a hard cap of 4
# epochs per source, allocate the budget. Temperature targets are
# floored against the cap, and ONE redistribution round hands the
# resulting deficit to the uncapped sources by the same weights (exact
# waterfilling converges in <= |sources| rounds; the single round is
# the documented planner semantics here, and `capped` marks who hit
# the ceiling). Numeric parity: weights are sqrt on a 1e6 integer grid
# (exact integer sums — a double Sigma-w would be summation-order-
# dependent across engines); every budget split divides BEFORE
# multiplying in double with identical op order both sides.
# Scale: one groupBy(lang) over the corpus, then arithmetic on
# |langs| rows with two 1-row broadcast totals. The corpus is read
# once, map-side tokenized.
# ---------------------------------------------------------------------------

_EPOCH_BUDGET_X = 2       # train budget = 2x corpus tokens
_EPOCH_CAP = 4            # no source repeats more than 4 epochs


def sample_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.sum(token_count(F.col("text")).cast("long")).alias("tok")
    )
    per = per.withColumn(
        "w", F.floor(F.sqrt(F.col("tok")) * 1000000).cast("long")
    )
    # r15 optimization: corpus totals and the post-cap re-spread totals
    # were agg + crossJoin diamonds; column pruning de-identifies the
    # branch subtrees, so the token-count corpus aggregate re-derived
    # once per branch (4 lineage evaluations of the scan+tokenize).
    # Unpartitioned window sums over the |langs|-row frame keep one
    # lineage: ONE corpus pass, then arithmetic on the tiny frame.
    # Identical integer/double arithmetic — same results.
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    a1 = (
        per.withColumn("__tot_tok", F.sum("tok").over(w_all))
        .withColumn("__tot_w", F.sum("w").over(w_all))
        .withColumn(
            "__budget", (F.lit(_EPOCH_BUDGET_X) * F.col("__tot_tok")).cast("long")
        )
        .withColumn(
            "target",
            F.floor(
                F.col("w") / F.col("__tot_w") * F.col("__budget")
            ).cast("long"),
        )
        .withColumn("cap", (F.lit(_EPOCH_CAP) * F.col("tok")).cast("long"))
        .withColumn("alloc1", F.least("target", "cap"))
        .withColumn("capped1", F.col("target") > F.col("cap"))
    )
    out = (
        a1.withColumn("__sum_a1", F.sum("alloc1").over(w_all))
        .withColumn(
            "__w_unc", F.sum(F.when(~F.col("capped1"), F.col("w"))).over(w_all)
        )
        .withColumn("__deficit", F.col("__budget") - F.col("__sum_a1"))
        .withColumn(
            "extra",
            F.when(
                ~F.col("capped1") & (F.col("__w_unc") > 0),
                F.floor(
                    F.col("w") / F.col("__w_unc") * F.col("__deficit")
                ).cast("long"),
            ).otherwise(F.lit(0)),
        )
        .withColumn("alloc", F.least(F.col("alloc1") + F.col("extra"), F.col("cap")))
    )
    return out.select(
        "lang",
        F.col("tok").alias("corpus_tokens"),
        "w",
        "target",
        "alloc",
        (F.floor(F.col("alloc") * 100 / F.col("tok")) / 100).alias("epochs"),
        (F.col("alloc") >= F.col("cap")).alias("capped"),
    ).orderBy("lang")


_EPOCH_ALLOC_SQL = f"""
WITH per AS (
  SELECT lang,
         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS tok
  FROM documents GROUP BY 1
),
w AS (
  SELECT lang, tok,
         CAST(floor(sqrt(tok) * 1000000) AS BIGINT) AS w
  FROM per
),
tot AS (
  SELECT CAST(sum(tok) AS BIGINT) AS tot_tok,
         CAST(sum(w) AS BIGINT) AS tot_w
  FROM w
),
a1 AS (
  SELECT lang, tok, w,
         CAST({_EPOCH_BUDGET_X} * tot_tok AS BIGINT) AS budget,
         CAST(floor(w / tot_w * ({_EPOCH_BUDGET_X} * tot_tok)) AS BIGINT)
           AS target,
         CAST({_EPOCH_CAP} * tok AS BIGINT) AS cap
  FROM w CROSS JOIN tot
),
a1c AS (
  SELECT *, least(target, cap) AS alloc1, target > cap AS capped1 FROM a1
),
tot2 AS (
  SELECT CAST(sum(alloc1) AS BIGINT) AS sum_a1,
         CAST(coalesce(sum(CASE WHEN NOT capped1 THEN w END), 0) AS BIGINT)
           AS w_unc
  FROM a1c
)
SELECT lang, tok AS corpus_tokens, w, target,
       least(alloc1 + CASE WHEN NOT capped1 AND w_unc > 0
                           THEN CAST(floor(w / w_unc * (budget - sum_a1))
                                     AS BIGINT)
                           ELSE 0 END,
             cap) AS alloc,
       floor(least(alloc1 + CASE WHEN NOT capped1 AND w_unc > 0
                                 THEN CAST(floor(w / w_unc * (budget - sum_a1))
                                           AS BIGINT)
                                 ELSE 0 END,
                   cap) * 100 / tok) / 100 AS epochs,
       least(alloc1 + CASE WHEN NOT capped1 AND w_unc > 0
                           THEN CAST(floor(w / w_unc * (budget - sum_a1))
                                     AS BIGINT)
                           ELSE 0 END,
             cap) >= cap AS capped
FROM a1c CROSS JOIN tot2
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# context_length_planning — the max_seq_len budget sheet: for each
# candidate context length, how many documents truncate, how many
# tokens survive vs fall off the end, and the single-doc-per-sequence
# padding waste. The three curves (loss vs padding vs length) are what
# picks a pre-training sequence length before any packing strategy is
# chosen. ONE corpus pass: all per-candidate sums are conditional
# aggregates over the same map-side token count, unpivoted to one row
# per candidate (the oracle replays it as a 4-way cross join — the
# engine never does).
# Scale: single scan, map-side tokenize, one 1-row aggregate; output
# is |candidates| rows at any corpus size.
# ---------------------------------------------------------------------------

_CTX_LENS = (128, 256, 512, 1024)


def context_length_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents").select(
        token_count(F.col("text")).cast("long").alias("n_tok")
    )
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tok"),
    ]
    for L in _CTX_LENS:
        aggs += [
            F.sum(F.least(F.col("n_tok"), F.lit(L))).alias(f"kept_{L}"),
            F.sum(F.greatest(F.col("n_tok") - L, F.lit(0))).alias(
                f"lost_{L}"
            ),
            F.sum((F.col("n_tok") > L).cast("long")).alias(f"trunc_{L}"),
        ]
    one = docs.agg(*aggs)
    stack = ", ".join(
        f"{L}L, kept_{L}, lost_{L}, trunc_{L}" for L in _CTX_LENS
    )
    rows = one.selectExpr(
        "n_docs",
        "total_tok",
        f"stack({len(_CTX_LENS)}, {stack}) AS (ctx_len, kept_tokens,"
        " lost_tokens, n_truncated)",
    )
    return rows.select(
        "ctx_len",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_truncated").cast("long").alias("n_truncated"),
        F.col("kept_tokens").cast("long").alias("kept_tokens"),
        F.col("lost_tokens").cast("long").alias("lost_tokens"),
        (F.floor(F.col("lost_tokens") * 10000 / F.col("total_tok")) / 10000)
        .alias("loss_rate"),
        (F.col("n_docs") * F.col("ctx_len") - F.col("kept_tokens"))
        .cast("long")
        .alias("pad_tokens_single"),
    ).orderBy("ctx_len")


_CTX_PLAN_SQL = f"""
WITH toks AS (
  SELECT CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tok
  FROM documents
),
cands AS (SELECT unnest(ARRAY{list(_CTX_LENS)}) AS ctx_len)
SELECT CAST(c.ctx_len AS BIGINT) AS ctx_len,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_tok > c.ctx_len THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(sum(least(n_tok, c.ctx_len)) AS BIGINT) AS kept_tokens,
       CAST(sum(greatest(n_tok - c.ctx_len, 0)) AS BIGINT) AS lost_tokens,
       floor(sum(greatest(n_tok - c.ctx_len, 0)) * 10000 / sum(n_tok))
         / 10000 AS loss_rate,
       CAST(count(*) * c.ctx_len - sum(least(n_tok, c.ctx_len)) AS BIGINT)
         AS pad_tokens_single
FROM toks CROSS JOIN cands c
GROUP BY c.ctx_len
ORDER BY ctx_len
"""




# ---------------------------------------------------------------------------
# split_assign_documents — deterministic train/val/test assignment.
# The canonical dataset-split move: hash-mod buckets on the stable key
# (98/1/1 here), so the SAME doc lands in the SAME split on every
# engine, every re-run, any partitioning — and membership is a pure
# map-side predicate (no shuffle, no RNG state). Output is the
# per-(lang, split) count matrix plus each split's min/max doc_id as a
# membership spot-check.
# ---------------------------------------------------------------------------


def split_assign_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    split = (
        F.when(_bucket() < 98, "train")
        .when(_bucket() < 99, "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang", "split")
    )


_SPLIT_SQL = f"""
SELECT lang,
       CASE WHEN {_HASH_DUCK} % 100 < 98 THEN 'train'
            WHEN {_HASH_DUCK} % 100 < 99 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents
GROUP BY 1, 2
ORDER BY lang, split
"""




# ---------------------------------------------------------------------------
# sample_weighted_priority_documents — deterministic weighted sampling
# WITHOUT replacement (Efraimidis-Spirakis A-ES priorities): each doc
# gets priority ln(u)/w with u = hash-uniform in (0,1) and w = its
# token count; the top-k by priority is a weighted sample where
# inclusion probability scales with w. Hash-derived u makes the
# "random" draw reproducible on any engine/partitioning — the same
# property hash-mod sampling has, extended to WEIGHTED draws (sample
# long/high-quality documents preferentially, deterministically).
# Priorities are compared, never emitted: two priorities colliding
# within libm ulp noise would need hash values equal to ~15 digits.
# Scale: map-side priority + one top-k (TakeOrdered) — no shuffle of
# the corpus, no RNG state.
# ---------------------------------------------------------------------------

_WEIGHTED_K = 25


def sample_weighted_priority_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    u = (token_hash60(F.col("doc_id").cast("string")) + 1) / F.lit(float(1 << 60))
    w = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    pri = F.log(u) / w
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k + driver merge of k*partitions rows) — NOT a global-sort
    # window; the rank window then runs over only k rows.
    top = (
        docs.select("doc_id", "lang", w.alias("n_tokens"), pri.alias("_pri"))
        .orderBy(F.desc("_pri"), F.asc("doc_id"))
        .limit(_WEIGHTED_K)
    )
    return (
        top.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("_pri"), F.asc("doc_id"))),
        )
        .select("rank", "doc_id", "lang", "n_tokens")
        .orderBy("rank")
    )


_WEIGHTED_SQL = f"""
WITH pri AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         ln(({_HASH_DUCK} + 1) / 1152921504606846976.0)
           / len(regexp_split_to_array(trim(text), '\\s+')) AS p
  FROM documents
)
SELECT rank, doc_id, lang, n_tokens FROM (
  SELECT doc_id, lang, n_tokens,
         row_number() OVER (ORDER BY p DESC, doc_id ASC) AS rank
  FROM pri
) WHERE rank <= {_WEIGHTED_K}
ORDER BY rank
"""




# ---------------------------------------------------------------------------
# sample_temperature_lang — temperature-based language mixing (the
# XLM-R / mT5 recipe): sampling share of language l is proportional to
# f_l^(1/T), which up-weights tail languages as T grows. T=2 here, so
# the exponent is 0.5 and the weight is sqrt(f_l) — IEEE sqrt is
# correctly rounded, hence bit-identical across engines (pow would
# not be). Weights are floor-quantized to 1e9 integer units before the
# normalizing sum so the sum is EXACT integer arithmetic (a 5-term
# double sum could legally differ across engines' summation order);
# the per-language threshold then derives from identical doubles via
# identical operations on both sides. Membership stays the hash-mod
# predicate: deterministic, map-side, pushdown-able.
# ---------------------------------------------------------------------------

_TEMP_FRACTION = 0.2  # sample budget: 20% of the corpus


def sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    # r15 optimization: corpus total and normalizer as unpartitioned
    # window sums over the |langs|-row frame instead of a separate
    # corpus-count branch + agg/crossJoin diamonds (the corpus scan and
    # the lang groupBy re-derived once per branch). sum(n_total) over
    # the groups IS the corpus count, so the arithmetic operands are
    # identical — same thresholds, same sample.
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    # weight ~ sqrt(f_l), quantized to exact integer micro-units
    wq = F.floor(F.sqrt(F.col("n_total") / F.col("__N")) * 1e9).cast("long")
    weighted = counts.withColumn(
        "__N", F.sum("n_total").over(w_all)
    ).withColumn("wq", wq)
    budget = F.floor(F.col("__N") * _TEMP_FRACTION)
    thr = F.least(
        F.lit(10000).cast("long"),
        F.floor(
            F.col("wq") / F.col("__Z") * budget * 10000 / F.col("n_total")
        ),
    )
    plan = weighted.withColumn("__Z", F.sum("wq").over(w_all)).select(
        "lang", "n_total", thr.alias("threshold")
    )
    sampled = (
        docs.join(F.broadcast(plan), "lang")
        .filter(
            token_hash60(F.col("doc_id").cast("string")) % 10000
            < F.col("threshold")
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        plan.join(sampled, "lang", "left")
        .select(
            "lang",
            "n_total",
            "threshold",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
        .orderBy("lang")
    )


_TEMP_SQL = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
),
tot AS (SELECT count(*) AS n FROM documents),
weighted AS (
  SELECT lang, n_total,
         CAST(floor(sqrt(CAST(n_total AS DOUBLE) / n) * 1e9) AS BIGINT) AS wq,
         n
  FROM counts, tot
),
z AS (SELECT sum(wq) AS zq FROM weighted),
plan AS (
  SELECT lang, n_total,
         least(10000, CAST(floor(
           CAST(wq AS DOUBLE) / zq * floor(n * {_TEMP_FRACTION}) * 10000
             / n_total
         ) AS BIGINT)) AS threshold
  FROM weighted, z
),
sampled AS (
  SELECT d.lang, count(*) AS n_sampled
  FROM documents d JOIN plan p USING (lang)
  WHERE {_HASH_DUCK} % 10000 < p.threshold
  GROUP BY d.lang
)
SELECT p.lang, CAST(p.n_total AS BIGINT) AS n_total,
       p.threshold, coalesce(s.n_sampled, 0) AS n_sampled
FROM plan p LEFT JOIN sampled s USING (lang)
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# sample_source_cap_documents — per-source document caps (the domain-cap
# primitive of web-corpus pipelines: no single domain may contribute
# more than N documents). Deterministic: within each source, docs are
# ranked by md5(text) with doc_id as the tiebreak — a stable,
# content-derived shuffle — and the first cap survive.
# Scale: one shuffle partitioned by source with a bounded per-partition
# top-N; no global sort. Hot sources are the common case (web domains
# are Zipfian) — rank-within-partition keeps the hot source on one
# reducer but emits only cap rows from it; for extreme cardinality a
# two-phase grouped_running_sum of ones numbers rows per source.
# Ladder note (the repo's worst per-decade exponent, 0.91, adjudicated
# round 11): the executed plan is already the optimal shape — a
# Partial+Final WindowGroupLimit pair, so the map side emits only
# top-cap rows per (partition, source) BEFORE the shuffle, and the
# scan reads only (doc_id, text, source). What remains is the full-
# corpus md5(text) itself: content-derived ranking must hash every
# byte once, so cost tracks input size by construction and the
# exponent approaches 1.0 as fixed overheads amortize. Not a shuffle
# or plan defect; the 100 TB posture is scan-bound and embarrassingly
# parallel.
# ---------------------------------------------------------------------------

_SOURCE_CAP = 15


def sample_source_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    kept = (
        docs.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= _SOURCE_CAP)
    )
    return kept.select("doc_id", "source", "rank_in_source").orderBy(
        "source", "rank_in_source"
    )


_SOURCE_CAP_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id)
           AS rank_in_source
  FROM documents
)
SELECT doc_id, source, CAST(rank_in_source AS INT) AS rank_in_source
FROM ranked
WHERE rank_in_source <= {_SOURCE_CAP}
ORDER BY source, rank_in_source
"""


# ---------------------------------------------------------------------------
# split_leakage_safe_documents — LEAKAGE-SAFE train/val/test splits:
# the split hash is computed on the near-dup CLUSTER canonical, not the
# doc id, so every member of a duplicate cluster lands in the same
# split. Plain per-doc hash splitting leaks: a near-duplicate pair
# split across train and test inflates eval. The emitted
# `cross_split_pairs` column counts candidate near-dup pairs whose
# endpoints land in different splits — 0 by construction here, and the
# quantity a reviewer would measure on any split scheme.
# Scale: clusters from the bounded candidate graph (shingle-capped
# jaccard pairs + pointer-doubling components); assignment is a
# left join of component labels (absent -> singleton cluster = own id)
# and a map-side hash — no new heavy shapes beyond the dedup path.
# ---------------------------------------------------------------------------


def split_leakage_safe_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from etl_ml_pipeline_spark.queries.dedup_q import _dup_corpus

    corpus = _dup_corpus(spark, sf_dir).filter((F.col("doc_id") % 1_000_000) < 300)
    # r15 optimization: pin the candidate-pair and per-doc frames with
    # lazy localCheckpoints. `pairs` (the expensive shingle-join
    # product) feeds BOTH the components loop and the leak count, and
    # `per_doc` feeds three consumers (two leak-join legs + the split
    # rollup); the branches prune different columns, so the executed
    # plan re-derived the jaccard joins per consumer (19 scans / 9
    # sort-merge joins measured). Both frames are id-scale and narrow —
    # the _pin_partitioning trade (operators/relational.py). Measured
    # 0.70x interleaved at sf0.1 (2.75s -> 1.92s medians,
    # scripts/r15_ab3.json); rows unchanged (oracle-green).
    pairs = ngram_jaccard_pairs(
        corpus, "text", "doc_id", n=3, threshold=0.5
    ).localCheckpoint(eager=False)
    comp = connected_components(pairs)
    assigned = (
        corpus.join(comp, corpus["doc_id"] == comp["node"], "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster")
        )
    )
    h = token_hash60(F.col("cluster").cast("string")) % 100
    per_doc = assigned.withColumn(
        "split",
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test"),
    ).localCheckpoint(eager=False)
    leaks = (
        pairs.join(
            per_doc.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            per_doc.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
        .agg(
            F.sum((F.col("sa") != F.col("sb")).cast("long")).alias("cross_split_pairs")
        )
        .select(F.coalesce("cross_split_pairs", F.lit(0)).alias("cross_split_pairs"))
    )
    return (
        per_doc.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
        .orderBy("split")
    )


def _split_leakage_oracle() -> str:
    from etl_ml_pipeline_spark.queries.dedup_q import _DUP_CORPUS_SQL

    hash_cluster = "('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15))::BIGINT % 100"
    return f"""
WITH RECURSIVE corpus AS (
  SELECT * FROM ({_DUP_CORPUS_SQL}) WHERE doc_id % 1000000 < 300
),
toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM corpus
),
sh AS (
  SELECT id, unnest(list_distinct(
           list_transform(range(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         )) AS shingle
  FROM toks
),
capped AS (
  SELECT sh.* FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= 0.5 * (SELECT count(*) FROM corpus)) k
  USING (shingle)
),
sizes AS (SELECT id, count(*) AS sz FROM capped GROUP BY id),
pairs AS (
  SELECT id_a, id_b
  FROM (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2) i
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
assigned AS (
  SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS cluster
  FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
),
per_doc AS (
  SELECT doc_id, cluster,
         CASE WHEN {hash_cluster} < 80 THEN 'train'
              WHEN {hash_cluster} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
),
leaks AS (
  SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS cross_split_pairs
  FROM pairs p
  JOIN per_doc a ON p.id_a = a.doc_id
  JOIN per_doc b ON p.id_b = b.doc_id
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
       (SELECT cross_split_pairs FROM leaks) AS cross_split_pairs
FROM per_doc
GROUP BY split
ORDER BY split
"""


# ---------------------------------------------------------------------------
# shuffle_epoch_documents — the deterministic epoch shuffle every
# training run needs: a reproducible global permutation of the corpus
# per epoch, seeded by the epoch number, so a resumed/re-run job reads
# the SAME order and different epochs read DIFFERENT orders. Sort key =
# 60-bit md5 hash of "ep{epoch}:{doc_id}" (identical across engines,
# uncorrelated between epochs). Scale: the permutation is assigned with
# the two-phase distributed rank (operators/relational.py
# grouped_running_sum of ones per epoch — range-repartition on the hash,
# local running counts, broadcast offsets), NEVER a single-task global
# window, exactly how a 100 TB corpus gets its epoch order materialized.
# ---------------------------------------------------------------------------

_SHUFFLE_EPOCHS = 2


def shuffle_epoch_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    # All epochs in ONE two-phase rank pass: the epochs explode out of a
    # single doc_id scan and the rank is a per-epoch running count in
    # (__h, doc_id) order. The range bucketing runs over the hash column
    # alone (monotone in __h), so one scan + one hash exchange carries
    # every epoch's rows; doc_id is unique per epoch, so positions are
    # the exact per-epoch row numbers.
    docs = t(spark, sf_dir, "documents").select("doc_id")
    eps = F.array(*[F.lit(e) for e in range(1, _SHUFFLE_EPOCHS + 1)])
    hashed = docs.select(
        "doc_id", F.explode(eps).alias("epoch")
    ).withColumn(
        "__h",
        token_hash60(
            F.concat(
                F.lit("ep"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    ranked = grouped_running_sum(
        hashed, F.lit(1), ["epoch"], ["__h", "doc_id"], "position"
    )
    return ranked.select(
        "epoch", F.col("position").cast("int").alias("position"), "doc_id"
    ).orderBy("epoch", "position")


_SHUFFLE_EPOCH_SQL = f"""
WITH eps AS (SELECT unnest(range(1, {_SHUFFLE_EPOCHS} + 1)) AS epoch),
hashed AS (
  SELECT e.epoch, d.doc_id,
         ('0x' || substr(md5('ep' || CAST(e.epoch AS VARCHAR) || ':'
                              || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS hh
  FROM documents d CROSS JOIN eps e
)
SELECT CAST(epoch AS INT) AS epoch,
       row_number() OVER (PARTITION BY epoch ORDER BY hh, doc_id) AS position,
       doc_id
FROM hashed
ORDER BY epoch, position
"""


# ---------------------------------------------------------------------------
# sample_dsir_weights — DSIR-style importance weights (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling",
# public): score every document by how target-like its hashed-unigram
# distribution is, w(doc) = sum over tokens of log(p_target(bucket) /
# p_raw(bucket)), with Laplace smoothing. Target here = the corpus's
# 'en' slice; raw = everything — the standard "select data that looks
# like my high-quality target" selection signal.
#
# Exactness: each bucket's log-ratio is floor-truncated to integer
# ten-thousandths BEFORE the per-doc sum (the BM25 playbook — order-
# free integer adds, no float-reduction ambiguity). Hash buckets are
# md5-derived (token_hash60 % 1024), identical in both engines.
#
# Scale: one token->bucket count shuffle (map-side combined), a 1-row
# scalar broadcast, a bucket-table broadcast join back onto the token
# stream, one per-doc sum, and a global top-k — the exact shape DSIR
# runs at corpus scale, nothing driver-side.
# ---------------------------------------------------------------------------

_DSIR_B = 1024


def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy=True: the md5-per-token hashing is compute-bound per row, and
    # a single-file scan otherwise runs it on too few partitions
    # (measured at the synthetic sf1: 9.4s single-file vs the rebalanced
    # path — sf1 was SLOWER than sf10 purely from scan parallelism)
    docs = t(spark, sf_dir, "documents", heavy=True).select(
        "doc_id", "lang", "text"
    )
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    # Tokenize ONCE (the round-9 unigram_surprisal_scores rework): the
    # per-(doc,bucket) count is the single token-scale shuffle; both
    # the LM side and the scoring side consume the identical subtree,
    # so the second consumer reads a ReusedExchange instead of
    # re-splitting + re-md5-ing the corpus.
    dbc = (
        toks.withColumn("bucket", token_hash60(F.col("w")) % _DSIR_B)
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").alias("c"))
    )
    bc = dbc.groupBy("bucket").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias("ct"),
    )
    # Corpus totals as UNPARTITIONED window sums over the 1024-row LM
    # frame, not a separate agg + crossJoin: the diamond (bc consumed
    # by both the totals subtree and the weights probe) made Catalyst
    # re-derive bc — including the token-scale explode — a THIRD time
    # for the totals branch. One window over 1024 rows is free and
    # keeps bc a straight line: two token passes (probe + LM), one when
    # AQE's opportunistic stage reuse matches the shared dbc exchange.
    # Interleaved A/B at sf0.1 measures even; the win is the removed
    # pass at compute-bound scale (md5-per-token dominates there).
    # +1e-6 margin before floor (mirrored in the oracle): JVM
    # Math.log and libm ln may differ by 1 ulp, so a product landing
    # within ~1e-12 of an integer boundary could floor differently
    # across engines (ADVICE r07 #2).
    from pyspark.sql import Window as W

    wtot = W.partitionBy()
    w = bc.select(
        "bucket",
        F.floor(
            F.log(
                ((F.col("ct") + 1) / (F.sum("ct").over(wtot) + _DSIR_B))
                / ((F.col("cr") + 1) / (F.sum("cr").over(wtot) + _DSIR_B))
            )
            * 10000
            + 1e-6
        )
        .cast("long")
        .alias("w4"),
    )
    return (
        dbc.join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("w4")).cast("long").alias("dsir_score"),
        )
        .orderBy(F.desc("dsir_score"), "doc_id")
        .limit(20)
    )


_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(w), 1, 15))::BIGINT % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
bc AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM toks GROUP BY bucket
),
tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
        FROM bc),
w AS (
  SELECT bucket,
         CAST(floor(ln(((ct + 1) / CAST(nt + {_DSIR_B} AS DOUBLE))
                       / ((cr + 1) / CAST(nr + {_DSIR_B} AS DOUBLE)))
                    * 10000 + 1e-6) AS BIGINT) AS w4
  FROM bc, tot
)
SELECT doc_id, lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w4) AS BIGINT) AS dsir_score
FROM toks JOIN w USING (bucket)
GROUP BY doc_id, lang
ORDER BY dsir_score DESC, doc_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# sample_perplexity_buckets — CCNet-style head/middle/tail quality
# bucketing (Wenzek et al. 2019): score every document by its mean
# surprisal under the corpus's own hashed-unigram LM, then split each
# language into perplexity tertiles. CCNet uses a KenLM 5-gram; the
# deterministic cross-engine proxy here is the unigram LM over the
# same 1024 hashed buckets DSIR uses (Laplace-smoothed), with the
# per-bucket surprisal floored onto an integer 1e-4 grid (the shared
# +1e-6 nudge — JVM log vs libm ln 1-ulp fence posture) and the
# per-doc mean taken with integer DIV, so every downstream comparison
# is exact. Tertile cuts are per-language nearest-rank percentiles
# over the (lang, spp) frequency grid (operators/relational.
# nearest_rank_cuts: k = ceil(p*n) as window aggregates).
#
# Scale: one token-scale map-side-combined shuffle (bucket counts), a
# 1024-row broadcast back onto the token stream, one doc-level
# aggregate, then everything is grid-bounded: because a document's
# tier depends only on (lang, spp), BOTH the tertile cuts and the
# final head/middle/tail rollup are computed from the (lang, spp)
# frequency grid. One straight lineage — no cuts-aggregate +
# join-back diamond (which re-derived the doc-scale s4-join/aggregate
# residue twice), and no doc-scale tagging join at all (r15).
# ---------------------------------------------------------------------------


def sample_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import nearest_rank_cuts
    from etl_ml_pipeline_spark.operators.text import unigram_surprisal_scores

    docs = t(spark, sf_dir, "documents", heavy=True).select(
        "doc_id", "lang", "text"
    )
    # shared kernel with the perplexity_bucket pipeline transform.
    per_doc = unigram_surprisal_scores(docs, n_buckets=_DSIR_B)
    # (lang, spp) frequency grid — the ONLY consumer of the doc-scale
    # frame. r15 rework: the previous cuts-aggregate + null-safe-join
    # formulation evaluated the s4-join + doc-aggregate residue twice
    # (and a localCheckpoint pin measured 1.17x SLOWER interleaved at
    # sf0.1 — scripts/r15_ab2.json); aggregating to the grid first
    # removes the second evaluation without a pin, because the cuts and
    # the final rollup only need (lang, spp, doc-count, token-sum).
    grid = per_doc.groupBy("lang", "spp").agg(
        F.count("*").alias("__f"),
        F.sum("n_tokens").cast("long").alias("__toks"),
    )
    # nearest-rank cuts as WINDOW aggregates over the per-lang grid —
    # windows over the same partitioning chain on one exchange, no
    # aggregate + join-back. A NULL lang is its own window partition,
    # matching the null-safe-join audit semantics of the previous
    # formulation.
    cut = nearest_rank_cuts(grid, ["lang"], "spp", {"c1": (1, 3), "c2": (2, 3)})
    tier = (F.col("spp") > F.col("c1")).cast("int") + (
        F.col("spp") > F.col("c2")
    ).cast("int")
    name = F.element_at(F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tier + 1)
    return (
        cut.select("lang", name.alias("ppl_bucket"), "__f", "__toks", "spp")
        .groupBy("lang", "ppl_bucket")
        .agg(
            F.sum("__f").cast("long").alias("n_docs"),
            F.sum("__toks").cast("long").alias("n_tokens"),
            F.min("spp").alias("min_spp"),
            F.max("spp").alias("max_spp"),
        )
        .orderBy("lang", "ppl_bucket")
    )


_PPL_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(w), 1, 15))::BIGINT % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
bc AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cn FROM toks GROUP BY bucket
),
tot AS (SELECT CAST(sum(cn) AS BIGINT) AS nn FROM bc),
s4 AS (
  SELECT bucket,
         CAST(floor(-ln((cn + 1) / CAST(nn + {_DSIR_B} AS DOUBLE))
                    * 10000 + 1e-6) AS BIGINT) AS s4
  FROM bc, tot
),
per_doc AS (
  SELECT doc_id, lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(s4) AS BIGINT) // CAST(count(*) AS BIGINT) AS spp
  FROM toks JOIN s4 USING (bucket)
  GROUP BY doc_id, lang
),
grid AS (
  SELECT lang, spp,
         sum(cnt) OVER (PARTITION BY lang ORDER BY spp
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS total
  FROM (SELECT lang, spp, count(*) AS cnt FROM per_doc GROUP BY lang, spp)
),
cuts AS (
  SELECT lang,
         min(CASE WHEN cum >= (1 * total + 2) // 3 THEN spp END) AS c1,
         min(CASE WHEN cum >= (2 * total + 2) // 3 THEN spp END) AS c2
  FROM grid GROUP BY lang
)
SELECT p.lang,
       CASE WHEN p.spp <= c.c1 THEN 'head'
            WHEN p.spp <= c.c2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
       min(p.spp) AS min_spp,
       max(p.spp) AS max_spp
FROM per_doc p JOIN cuts c USING (lang)
GROUP BY p.lang, ppl_bucket
ORDER BY p.lang, ppl_bucket
"""


# ---------------------------------------------------------------------------
# sample_exact_allocation — largest-remainder (Hamilton) stratified
# allocation: split a FIXED sample budget (100 docs) across languages
# exactly proportionally — floor(N*n_l/n_total) each, then the leftover
# seats go to the largest fractional remainders (ties: lang asc). The
# complement to rate-based hash sampling (sample_stratified_lang): when
# the contract is "exactly N rows, proportionally", rates under- or
# over-shoot; largest-remainder is the standard exact-quota method, and
# every step here is integer arithmetic (DIV / MOD — no float quota can
# disagree across engines). Within each stratum the selected rows are
# the first `alloc` in md5-hash order (deterministic, reshuffle-proof).
#
# Scale: stratum counts are one map-side-combined shuffle; the quota
# table is strata-sized (operators/relational.largest_remainder,
# broadcast); selection is a per-stratum window
# (partitioned by lang, never global) + a broadcast semi-join.
# ---------------------------------------------------------------------------

_ALLOC_N = 100


def sample_exact_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from etl_ml_pipeline_spark.operators.relational import largest_remainder

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    cnt = docs.groupBy("lang").agg(F.count("*").alias("n"))
    alloc = largest_remainder(cnt, "lang", "n", _ALLOC_N, "alloc")
    w_lang = W.partitionBy("lang").orderBy(
        token_hash60(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn("rk", F.row_number().over(w_lang))
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .filter(F.col("rk") <= F.col("alloc"))
        .select("lang", F.col("rk").cast("long").alias("rk"), "doc_id")
        .orderBy("lang", "rk")
    )


_ALLOC_SQL = f"""
WITH cnt AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cnt),
quota AS (
  SELECT lang, ({_ALLOC_N} * n) // nt AS base, ({_ALLOC_N} * n) % nt AS rem
  FROM cnt, tot
),
alloc AS (
  SELECT lang,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                      <= {_ALLOC_N} - (SELECT sum(base) FROM quota)
                THEN 1 ELSE 0 END AS alloc
  FROM quota
),
ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang ORDER BY {_HASH_DUCK}, doc_id) AS rk
  FROM documents
)
SELECT r.lang, CAST(rk AS BIGINT) AS rk, doc_id
FROM ranked r JOIN alloc a ON r.lang = a.lang AND r.rk <= a.alloc
ORDER BY r.lang, rk
"""


# ---------------------------------------------------------------------------
# curriculum_order_documents — curriculum training order: rank the
# whole corpus globally by a difficulty score (n_chars asc — short
# docs first — tie: doc_id) WITHOUT a single-partition global window,
# via the same two-phase distributed rank as shuffle_epoch_documents
# (operators/relational.global_row_number: range-repartition, local
# running counts, broadcast cumulative offsets). The result emits five
# exact checkpoints (first, quartiles by ceil(k*n/4), last) — each
# pins the precise (position, doc_id, n_chars) triple, so any error
# anywhere in the distributed rank surfaces as a hash mismatch against
# the oracle's naive global window.
# ---------------------------------------------------------------------------


def curriculum_order_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import global_row_number

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = global_row_number(docs, ["n_chars", "doc_id"], out_col="pos")
    n1 = docs.agg(F.count("*").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n1))
        .filter(
            (F.col("pos") == 1)
            | (F.col("pos") == F.expr("(1 * n + 3) DIV 4"))
            | (F.col("pos") == F.expr("(2 * n + 3) DIV 4"))
            | (F.col("pos") == F.expr("(3 * n + 3) DIV 4"))
            | (F.col("pos") == F.col("n"))
        )
        .select(F.col("pos").cast("long").alias("pos"), "doc_id", "n_chars")
        .orderBy("pos")
    )


_CURRICULUM_SQL = """
WITH ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS pos,
         count(*) OVER () AS n
  FROM documents
)
SELECT CAST(pos AS BIGINT) AS pos, doc_id, n_chars
FROM ranked
WHERE pos = 1 OR pos = (1 * n + 3) // 4 OR pos = (2 * n + 3) // 4
   OR pos = (3 * n + 3) // 4 OR pos = n
ORDER BY pos
"""


# ---------------------------------------------------------------------------
# sample_token_budget_mixture — materialize a TOKEN-budget training
# mixture: each source gets an integer token budget (largest-remainder
# split of _MIX_BUDGET over deterministic per-source weights — the
# Hamilton arithmetic of sample_exact_allocation, applied to tokens
# instead of rows), then the source's selection is the prefix of its
# docs in md5-hash order whose STARTING token offset is inside the
# budget (the pack_documents_budget start-offset rule, so exactly one
# doc may straddle the boundary). The per-DOC quota complement: doc
# budgets under/over-shoot token counts; training mixes are specified
# in tokens.
#
# Scale: per-source token counts are one map-side-combined shuffle; the
# weight/budget table is |sources|-sized (operators/relational.
# largest_remainder, broadcast); the per-source
# cumulative token offset uses grouped_running_sum — the two-phase
# prefix sum extended with the group key, so a mega-source spanning
# many partitions parallelizes instead of serializing in one
# Window.partitionBy task. Output: per-source fill summary, all
# integer-exact.
# ---------------------------------------------------------------------------

_MIX_BUDGET = 20_000


def sample_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import (
        grouped_running_sum,
        largest_remainder,
    )
    from etl_ml_pipeline_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    # deterministic per-source mixture weight 1..4 (stand-in for a
    # user-supplied spec; hash-derived so both engines agree)
    wexpr = 1 + token_hash60(F.col("source")) % 4
    cnt = docs.groupBy("source").agg(F.count("*").alias("n_docs_src"))
    weights = cnt.select("source", wexpr.alias("w"))
    budget = largest_remainder(weights, "source", "w", _MIX_BUDGET, "budget_tok")
    cum = grouped_running_sum(
        docs.withColumn("h", token_hash60(F.col("doc_id").cast("string"))),
        "n_tok",
        ["source"],
        ["h", "doc_id"],
        out_col="cum_tok",
    )
    picked = cum.join(F.broadcast(budget), "source").filter(
        F.col("cum_tok") - F.col("n_tok") < F.col("budget_tok")
    )
    return (
        picked.groupBy("source")
        .agg(
            F.max("w").cast("long").alias("w"),
            F.max("budget_tok").cast("long").alias("budget_tok"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tok"),
        )
        .withColumn("filled", F.col("n_tok") >= F.col("budget_tok"))
        .orderBy("source")
    )


_MIX_TOKENS_SQL = f"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tok,
         {_HASH_DUCK} AS h
  FROM documents
),
weights AS (
  SELECT source,
         1 + ('0x' || substr(md5(source), 1, 15))::BIGINT % 4 AS w
  FROM (SELECT DISTINCT source FROM docs)
),
wt AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM weights),
quota AS (
  SELECT source, w, ({_MIX_BUDGET} * w) // wt AS base,
         ({_MIX_BUDGET} * w) % wt AS rem
  FROM weights, wt
),
budget AS (
  SELECT source, w,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                      <= {_MIX_BUDGET} - (SELECT sum(base) FROM quota)
                THEN 1 ELSE 0 END AS budget_tok
  FROM quota
),
cum AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tok
  FROM docs
),
picked AS (
  SELECT c.source, b.w, b.budget_tok, c.n_tok
  FROM cum c JOIN budget b ON c.source = b.source
  WHERE c.cum_tok - c.n_tok < b.budget_tok
)
SELECT source,
       CAST(max(w) AS BIGINT) AS w,
       CAST(max(budget_tok) AS BIGINT) AS budget_tok,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tok,
       CAST(sum(n_tok) AS BIGINT) >= CAST(max(budget_tok) AS BIGINT)
         AS filled
FROM picked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# mixture_doremi_weights — DoReMi-style domain reweighting: iteratively
# boost the training weight of domains whose quality deficit ("excess
# loss" proxy: how far the domain's mean type-token-ratio sits below a
# 0.70 reference target) is high AND whose current mixture share is
# low — the multiplicative-weights shape of the published domain-
# reweighting recipes, with the model-in-the-loop loss replaced by the
# deterministic corpus statistic so the allocation is auditable. Three
# unrolled rounds: share = w*1e6 div SUM(w); boost = excess*(1e6-share)
# div 1e6; w' = w*(1e6+boost) div 1e6. EVERY step is exact integer
# arithmetic on a ppm grid (no exp(), no doubles), so both engines
# agree bit-for-bit and the update is overflow-safe by construction
# (w <= 8e6 after 3 doubling-bounded rounds; products <= 1.6e13 << 2^63).
# Scale: ONE corpus pass (map-side tokenize + groupBy(source)), then 3
# rounds of arithmetic on |domains| rows with a broadcast 1-row total
# each — the corpus is never rescanned.
# ---------------------------------------------------------------------------

_DOREMI_TARGET_PPM = 700_000
_DOREMI_ROUNDS = 3


def mixture_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    q_ppm = F.expr(
        "CAST(CAST(size(array_distinct(split(trim(text), '\\\\s+'))) AS BIGINT)"
        " * 1000000 div size(split(trim(text), '\\\\s+')) AS BIGINT)"
    )
    per = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum(q_ppm).alias("sum_q"))
        .withColumn("mean_q_ppm", F.expr("sum_q div n_docs"))
        .withColumn(
            "excess_ppm",
            F.greatest(
                F.lit(0).cast("long"),
                F.lit(_DOREMI_TARGET_PPM) - F.col("mean_q_ppm"),
            ),
        )
        .withColumn("w", F.lit(1_000_000).cast("long"))
    )
    # r15 optimization: each round's total was an agg + crossJoin
    # diamond, so round r's plan embedded round r-1's subtree TWICE —
    # 2^rounds copies of the corpus aggregate by round 3 (column
    # pruning de-identifies the branches, so exchange reuse cannot
    # collapse them). An unpartitioned window sum over the |domains|-row
    # frame keeps one linear lineage: ONE corpus pass, then `rounds`
    # window+project steps over the tiny frame. Same integer ppm
    # arithmetic — identical results (MixtureReweight mirrors this).
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    for i in range(1, _DOREMI_ROUNDS + 1):
        per = (
            per.withColumn("__tot", F.sum("w").over(w_all))
            .withColumn("__share", F.expr("w * 1000000 div __tot"))
            .withColumn(
                "__boost", F.expr("excess_ppm * (1000000 - __share) div 1000000")
            )
            .withColumn("w", F.expr("w * (1000000 + __boost) div 1000000"))
            .withColumn(f"w{i}", F.col("w"))
            .drop("__tot", "__share", "__boost")
        )
    return (
        per.withColumn("__tot", F.sum("w").over(w_all))
        .select(
            "source",
            "n_docs",
            "mean_q_ppm",
            "excess_ppm",
            "w1",
            "w2",
            "w3",
            F.expr("w * 1000000 div __tot").alias("weight_ppm"),
        )
        .orderBy("source")
    )


_DOREMI_SQL = f"""
WITH scored AS (
  SELECT source,
         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
              * 1000000
              // len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS q_ppm
  FROM documents
),
per AS (
  SELECT source, count(*) AS n_docs, CAST(sum(q_ppm) AS BIGINT) AS sum_q
  FROM scored GROUP BY 1
),
base AS (
  SELECT source, n_docs,
         sum_q // n_docs AS mean_q_ppm,
         greatest(0, {_DOREMI_TARGET_PPM} - sum_q // n_docs) AS excess_ppm,
         CAST(1000000 AS BIGINT) AS w
  FROM per
),
r1 AS (
  SELECT *, w * (1000000 + excess_ppm
                 * (1000000 - w * 1000000 // (SELECT sum(w) FROM base))
                 // 1000000) // 1000000 AS w1
  FROM base
),
r2 AS (
  SELECT *, w1 * (1000000 + excess_ppm
                  * (1000000 - w1 * 1000000 // (SELECT sum(w1) FROM r1))
                  // 1000000) // 1000000 AS w2
  FROM r1
),
r3 AS (
  SELECT *, w2 * (1000000 + excess_ppm
                  * (1000000 - w2 * 1000000 // (SELECT sum(w2) FROM r2))
                  // 1000000) // 1000000 AS w3
  FROM r2
)
SELECT source, n_docs, mean_q_ppm, excess_ppm,
       CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
       CAST(w3 AS BIGINT) AS w3,
       CAST(w3 * 1000000 // (SELECT sum(w3) FROM r3) AS BIGINT) AS weight_ppm
FROM r3
ORDER BY source
"""


QUERIES = {
    "sample_hash_documents": sample_hash_documents,
    "mixture_doremi_weights": mixture_doremi_weights,
    "sample_token_budget_mixture": sample_token_budget_mixture,
    "sample_dsir_weights": sample_dsir_weights,
    "sample_perplexity_buckets": sample_perplexity_buckets,
    "sample_exact_allocation": sample_exact_allocation,
    "curriculum_order_documents": curriculum_order_documents,
    "shuffle_epoch_documents": shuffle_epoch_documents,
    "sample_source_cap_documents": sample_source_cap_documents,
    "split_assign_documents": split_assign_documents,
    "split_leakage_safe_documents": split_leakage_safe_documents,
    "sample_weighted_priority_documents": sample_weighted_priority_documents,
    "sample_temperature_lang": sample_temperature_lang,
    "sample_stratified_lang": sample_stratified_lang,
    "pack_documents_budget": pack_documents_budget,
    "pack_documents_capacity": pack_documents_capacity,
    "pack_ffd_documents": pack_ffd_documents,
    "pack_attention_boundary_stats": pack_attention_boundary_stats,
    "sample_epoch_allocation": sample_epoch_allocation,
    "context_length_planning": context_length_planning,
    "sample_mixture_lang": sample_mixture_lang,
}

ORACLES = {
    "sample_hash_documents": _HASH_SAMPLE_SQL,
    "mixture_doremi_weights": _DOREMI_SQL,
    "sample_token_budget_mixture": _MIX_TOKENS_SQL,
    "sample_dsir_weights": _DSIR_SQL,
    "sample_perplexity_buckets": _PPL_SQL,
    "sample_exact_allocation": _ALLOC_SQL,
    "curriculum_order_documents": _CURRICULUM_SQL,
    "shuffle_epoch_documents": _SHUFFLE_EPOCH_SQL,
    "sample_source_cap_documents": _SOURCE_CAP_SQL,
    "split_assign_documents": _SPLIT_SQL,
    "split_leakage_safe_documents": _split_leakage_oracle(),
    "sample_weighted_priority_documents": _WEIGHTED_SQL,
    "sample_temperature_lang": _TEMP_SQL,
    "sample_stratified_lang": _STRATIFIED_SQL,
    "pack_documents_budget": _PACK_SQL,
    "pack_documents_capacity": _PACK_CAPACITY_SQL,
    "pack_ffd_documents": _FFD_SQL,
    "pack_attention_boundary_stats": _PACK_BOUNDARY_SQL,
    "sample_epoch_allocation": _EPOCH_ALLOC_SQL,
    "context_length_planning": _CTX_PLAN_SQL,
    "sample_mixture_lang": _mixture_oracle(),
}
