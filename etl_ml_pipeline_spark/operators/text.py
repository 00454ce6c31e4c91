"""Text-analysis operators for LLM-data pipelines.

Not in the reference (SURVEY.md §2.6) — built Spark-first per the
BASELINE.json north star: token counting, quality scoring, language-ID
heuristics, and document fingerprinting over a ``text`` column. Every
expression is a built-in JVM function (codegen'd, no Python), so these
run at scan speed and scale linearly; nothing shuffles until an
aggregate is requested.

Cross-engine determinism: fingerprints use md5 (identical in Spark and
DuckDB); token hashes use the first 15 hex chars of md5 parsed as a
60-bit integer — both engines compute the same value
(Spark ``conv(substr(md5(x),1,15),16,10)``,
DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.base import BaseTransform
from etl_ml_pipeline_spark.registry import register_transform

# Small high-frequency English function words (public knowledge; subset
# tuned to the synthetic corpus vocabulary).
EN_STOPWORDS = ("the", "a", "or", "and", "of", "to", "in", "is")


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text -> array<string>."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def unique_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


# BPE-style pre-tokenizer pattern: letter runs, digit runs, punctuation
# runs (GPT-2's pre-split shape, minus the lookahead/unicode-category
# pieces so Java regex (Spark) and RE2 (DuckDB) agree exactly).
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(col: Column) -> Column:
    """Subword-style token count via the BPE pre-split regex — the
    budget metric for LLM training data (whitespace counts undershoot
    on punctuation-heavy or CJK text)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_PATTERN), 0))


def stopword_count(col: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def avg_token_length(col: Column) -> Column:
    """Mean token length = (chars - separators) / tokens, fp-stable."""
    toks = tokens(col)
    total_chars = F.length(F.concat_ws("", toks))
    return total_chars / F.size(toks)


def type_token_ratio(col: Column) -> Column:
    return unique_token_count(col) / token_count(col)


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length band + lexical
    diversity + stopword presence (a fluency proxy). Mirrors the shape of
    published heuristic filters (C4/Gopher-style rules) with exact
    arithmetic so an oracle can replicate it."""
    n = token_count(col)
    ttr = type_token_ratio(col)
    sw_ratio = stopword_count(col) / n
    length_ok = (n >= 10) & (n <= 1000)
    return (
        F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.least(ttr, F.lit(0.5)) * 0.6
        + F.when(sw_ratio.between(0.01, 0.5), F.lit(0.2)).otherwise(F.lit(0.0))
    )


def fingerprint(col: Column) -> Column:
    """Normalized-text md5 fingerprint (exact-dup key)."""
    normalized = F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))
    return F.md5(normalized)


def token_hash60(col: Column) -> Column:
    """Deterministic 60-bit token hash, identical across Spark/DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def en_score(col: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Language-ID heuristic: stopword mass as a fraction of tokens."""
    return stopword_count(col, stopwords) / token_count(col)


def word_ngrams(col: Column, n: int) -> Column:
    """Word n-gram array (space-joined) — the shingle primitive shared by
    repetition stats, dedup, and contamination checks.

    The tokenized array is let-bound (operators/hof.py) before the
    per-position transform references it. A closure that references the
    ``split`` *expression* directly gets it re-evaluated for every
    produced element (higher-order functions don't share subexpressions
    across lambda invocations) — measured 7.8s -> 0.96s building 2.5M
    5-grams on local[32]; ``element_at`` per word beats ``slice`` + copy
    by a further ~40%.

    Documents with fewer than ``n`` tokens yield an empty array: without
    the guard, ``F.sequence(0, size - n)`` produces a DESCENDING sequence
    (e.g. [0, -1]) and ``element_at(toks, 0)`` throws
    INVALID_INDEX_OF_ZERO at runtime. DuckDB's ``range()`` already yields
    empty for that case, so the oracle side needs no mirror."""
    from etl_ml_pipeline_spark.operators.hof import let_bind

    return let_bind(
        tokens(col),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def top_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Per-document most-frequent word n-gram and the fraction of n-gram
    slots it occupies — the Gopher-style repetition signal (a document
    whose top 2-gram covers a large fraction of the text is boilerplate
    or spam, not prose).

    Scale: explode -> one shuffle on (doc, gram) with map-side combine,
    then BOTH the per-doc argmax and the per-doc slot total run as
    windows over the same partitionBy(id) shuffle of the already-
    reduced (doc, gram, count) rows — the wide data moves once and the
    gram stream is exploded once (round 9: the slot total was a second
    groupBy over a re-derived explode plus a join back). Both keys are
    uniform (doc ids, gram strings), no skew. Ties break to the
    lexicographically smallest gram so results are deterministic
    cross-engine.
    """
    from pyspark.sql import Window as W

    grams = df.select(
        F.col(id_col).alias("id"), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    counts = grams.groupBy("id", "gram").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("id").orderBy(F.desc("cnt"), F.asc("gram"))
    return (
        counts.withColumn("n_grams", F.sum("cnt").over(W.partitionBy("id")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id"),
            F.col("gram").alias("top_gram"),
            F.col("cnt").alias("top_count"),
            (F.col("cnt") / F.col("n_grams")).alias("top_frac"),
        )
    )


# PII patterns constrained to the Java-regex/RE2 common subset (no
# lookaround, no \b ambiguity across engines at string edges is avoided
# by the explicit boundary classes). Public, standard shapes.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_PATTERN = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def chunk_sliding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window token chunking — the prep step that turns documents
    into overlapping fixed-size windows for embedding/indexing pipelines
    (RAG-style chunkers; window > stride gives the standard overlap so no
    boundary context is lost).

    Chunk i of a doc with n tokens starts at token i*stride and carries
    min(window, n - i*stride) tokens; a doc emits
    1 + ceil((n - window)/stride) chunks (one if n <= window). Pure
    map-side: tokenize (let-bound, see hof.py), explode the chunk index
    range, slice — no shuffle, no UDF; the chunk text rides along for
    downstream embedding.

    Output: (id, chunk_id, start_tok, n_chunk_tok, chunk_text).
    """
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError(f"need 0 < stride <= window, got {stride=} {window=}")
    from etl_ml_pipeline_spark.operators.hof import let_bind

    chunks = let_bind(
        tokens(F.col(text_col)),
        lambda toks: let_bind(
            F.size(toks),
            lambda n: F.transform(
                F.sequence(
                    F.lit(0),
                    F.when(n <= window, F.lit(0)).otherwise(
                        F.ceil((n - window) / F.lit(float(stride))).cast("long")
                    ),
                ),
                lambda i: F.struct(
                    i.cast("long").alias("chunk_id"),
                    (i * stride).cast("long").alias("start_tok"),
                    F.least(F.lit(window), n - i * stride)
                    .cast("long")
                    .alias("n_chunk_tok"),
                    F.concat_ws(
                        " ",
                        F.slice(
                            toks, i * stride + 1, F.least(F.lit(window), n - i * stride)
                        ),
                    ).alias("chunk_text"),
                ),
            ),
        ),
    )
    return (
        # token_count > 0 drops NULL texts (null-propagating compare);
        # empty strings tokenize to [""] — one token — per the engine-wide
        # whitespace-split convention both oracles share.
        df.filter(token_count(F.col(text_col)) > 0)
        .select(F.col(id_col).alias("id"), F.explode(chunks).alias("c"))
        .select("id", "c.chunk_id", "c.start_tok", "c.n_chunk_tok", "c.chunk_text")
    )


def pii_counts(col: Column) -> Column:
    """struct(n_emails, n_ipv4) found in the text — detection side."""
    return F.struct(
        F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL_PATTERN), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(col, F.lit(PII_IPV4_PATTERN), 0)).alias("n_ipv4"),
    )


def scrub_pii(col: Column) -> Column:
    """Redact emails then IPv4s with typed placeholder tokens. Pure
    map-side regexp_replace chain — codegen'd, scan-speed, the shape a
    100 TB pre-training scrub pass needs (no shuffle, no Python)."""
    scrubbed = F.regexp_replace(col, PII_EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(scrubbed, PII_IPV4_PATTERN, "<IP>")


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_shared: int = 1,
    broadcast_bench: bool = False,
) -> DataFrame:
    """Benchmark-contamination check: which corpus documents share word
    n-grams with a held-out benchmark set (the standard decontamination
    pass before pre-training; n=8..13 in published pipelines, lower here
    for the synthetic corpus).

    Scale: both sides explode to DISTINCT (id, 60-bit gram hash) pairs
    and meet in ONE equi-join on the hash — never a text comparison.
    Output: (corpus doc, benchmark doc, #shared n-grams).

    ``broadcast_bench`` — pass True ONLY when the benchmark is a real
    eval set (thousands of docs, gram table << executor memory): the
    hint then skips the shuffle of the corpus gram side's join build.
    The default (False) leaves the join strategy to Catalyst/AQE, which
    shuffles both gram sides on ``gh`` — the only topology that
    survives a benchmark that is itself a corpus fraction (an 80/20
    split audit would otherwise broadcast the gram hashes of most of
    the corpus: a multi-TB driver collect at 100 TB; VERDICT r12 #1).
    """
    def side(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(word_ngrams(F.col(text_col), n))
            ).alias("gram"),
        ).withColumn("gh", token_hash60(F.col("gram"))).drop("gram")

    c = side(corpus, "corpus_id")
    b = side(benchmark, "bench_id")
    if broadcast_bench:
        b = F.broadcast(b)
    return (
        c.join(b, "gh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    bias: float = 0.0,
) -> DataFrame:
    """fastText-style linear classifier inference at corpus scale:
    score(doc) = sigmoid(bias + sum over tokens of W[hash(token) %
    n_buckets] / n_tokens) — the architecture of the standard
    model-based quality filters (fastText/CCNet-style), with the weight
    table as data instead of a binary model file.

    Scale shape: explode tokens (map-side), hash to bucket (the same
    deterministic 60-bit md5 hash the rest of the engine uses), join the
    (bucket, weight) table with a BROADCAST (it's n_buckets rows — tiny
    by construction; that bound is the whole point of the hashing
    trick), then ONE groupBy(doc) sum. No Python, no model runtime; a
    real trained fastText weight matrix drops in as the weights table.

    ``weights``: DataFrame(bucket int/long, weight double). Missing
    buckets contribute 0 (left join + coalesce).
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("bucket", token_hash60(F.col("tok")) % n_buckets)
    w = weights.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("weight").cast("double").alias("weight"),
    )
    scored = (
        toks.join(F.broadcast(w), "bucket", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.coalesce("weight", F.lit(0.0))).alias("wsum"),
        )
    )
    logit = F.lit(bias) + F.col("wsum") / F.col("n_tok")
    return scored.select(
        F.col("id").alias(id_col),
        F.col("n_tok"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score"),
    )


def unigram_surprisal_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-document mean surprisal under the corpus's OWN hashed-unigram
    LM -> (id_col, lang_col, n_tokens, spp). The deterministic proxy for
    CCNet's KenLM perplexity scoring (Wenzek et al. 2019): tokens hash
    into ``n_buckets`` md5 buckets, the Laplace-smoothed bucket
    probability gives a surprisal floored onto an integer 1e-4 grid
    (+1e-6 pre-floor nudge — the shared JVM-log/libm-ln fence posture),
    and the per-doc mean is integer DIV, so every downstream comparison
    is exact across engines and re-runs.

    Scale: the corpus is tokenized ONCE — a per-(doc, bucket) count is
    the single token-scale map-side-combined shuffle, and because both
    the LM side (re-aggregate by bucket) and the scoring side (join s4,
    re-aggregate by doc) consume that identical subtree, Catalyst
    executes the explode+shuffle once and the second consumer reads a
    ReusedExchange (round-9 rework: the previous formulation fed raw
    tokens to the scoring join, so the corpus was split+exploded+hashed
    twice — interleaved A/B at sf0.1 reads medians 2.25s -> 1.81s;
    reuse requires the consumers' subtrees to stay IDENTICAL, which is
    why the downstream cuts join must be null-safe — a plain inner
    join infers isnotnull(lang) into one branch only and kills the
    reuse. The doc-LEVEL aggregate may still evaluate twice when a
    consumer prunes different columns — that residue is doc-scale,
    not token-scale, and not worth contorting the plan over).
    Downstream shuffles are
    (doc x distinct-buckets-per-doc)- and n_buckets-sized, never
    token-scale. Shared kernel of the ``sample_perplexity_buckets``
    catalog query and the ``perplexity_bucket`` pipeline transform —
    they cannot drift.
    """
    toks = df.select(
        id_col, lang_col, F.explode(F.split(text_col, " ")).alias("w")
    ).filter(F.col("w") != "")
    dbc = (
        toks.withColumn("bucket", token_hash60(F.col("w")) % n_buckets)
        .groupBy(id_col, lang_col, "bucket")
        .agg(F.count("*").alias("c"))
    )
    bc = dbc.groupBy("bucket").agg(F.sum("c").alias("cn"))
    # corpus total as an unpartitioned window sum over the
    # n_buckets-row LM frame — a separate agg + crossJoin is a diamond
    # that makes Catalyst re-derive bc (and its token-scale explode)
    # for the totals branch (see sample_dsir_weights for the full note)
    from pyspark.sql import Window as W

    wtot = W.partitionBy()
    s4 = bc.select(
        "bucket",
        F.floor(
            -F.log(
                (F.col("cn") + 1) / (F.sum("cn").over(wtot) + n_buckets)
            )
            * 10000
            + 1e-6
        )
        .cast("long")
        .alias("s4"),
    )
    return (
        dbc.join(F.broadcast(s4), "bucket")
        .groupBy(id_col, lang_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("s4")).cast("long").alias("sum_s4"),
        )
        .select(
            id_col,
            lang_col,
            "n_tokens",
            F.expr("sum_s4 div n_tokens").alias("spp"),
        )
    )


@register_transform("perplexity_bucket")
class PerplexityBucket(BaseTransform):
    """CCNet-style perplexity gating for the YAML engine: score every
    doc with ``unigram_surprisal_scores``, cut each language into
    head/middle/tail tertiles (per-language nearest-rank cuts — never
    interpolated), tag rows with ``ppl_bucket`` (+``spp``), and
    optionally keep only the configured buckets.

    config:
      text_col / id_col / lang_col: columns (default text/doc_id/lang)
      n_buckets: hashed-unigram vocab size (default 1024)
      keep: optional list from {head, middle, tail} — e.g. CCNet's
            usual move of dropping the tail is ``keep: [head, middle]``
    """

    def validate(self, df: DataFrame) -> None:
        keep = self.config.get("keep")
        bad = set(keep or ()) - {"head", "middle", "tail"}
        if bad:
            raise ValueError(f"perplexity_bucket: unknown buckets {sorted(bad)}")

    def transform(self, df: DataFrame) -> DataFrame:
        from etl_ml_pipeline_spark.operators.relational import (
            nearest_rank_percentiles,
        )

        cfg = self.config
        id_col = cfg.get("id_col", "doc_id")
        lang_col = cfg.get("lang_col", "lang")
        scores = unigram_surprisal_scores(
            df,
            text_col=cfg.get("text_col", "text"),
            id_col=id_col,
            lang_col=lang_col,
            n_buckets=int(cfg.get("n_buckets", 1024)),
        )
        cuts = nearest_rank_percentiles(
            scores, [lang_col], "spp", {"c1": (1, 3), "c2": (2, 3)}
        )
        tier = (F.col("spp") > F.col("c1")).cast("int") + (
            F.col("spp") > F.col("c2")
        ).cast("int")
        name = F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tier + 1
        )
        # null-safe cuts join (round-9 audit of ADVICE r08 #4): docs
        # with a NULL language form their own tertile group — the cuts
        # WERE computed for that group, so the join back must match it.
        from etl_ml_pipeline_spark.operators.joins import null_safe_join

        tagged = null_safe_join(
            scores, F.broadcast(cuts), [lang_col]
        ).select(id_col, "spp", name.alias("ppl_bucket"))
        # LEFT join: a zero-token doc has no score row — in tag mode it
        # must still come through (null spp/ppl_bucket), not vanish; a
        # keep gate then drops it naturally (isin is null-rejecting),
        # which is the right quality-gate posture for empty text.
        out = df.join(tagged, id_col, "left")
        keep = cfg.get("keep")
        if keep:
            out = out.filter(F.col("ppl_bucket").isin(list(keep)))
        return out


@register_transform("quality_model_score")
class QualityModelScore(BaseTransform):
    """YAML-engine surface for hashed_linear_score: adds a ``score``
    column (and optionally filters on it).

    config:
      text_col / id_col: columns (default text / doc_id)
      n_buckets, bias: model shape
      weights: [[bucket, weight], ...]   # inline, or
      weights_parquet: path              # a trained table
      min_score: 0.5                     # optional gate
    """

    def validate(self, df: DataFrame) -> None:
        if not self.config.get("weights") and not self.config.get("weights_parquet"):
            raise ValueError("quality_model_score requires weights or weights_parquet")

    def transform(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        cfg = self.config
        if cfg.get("weights_parquet"):
            w = spark.read.parquet(cfg["weights_parquet"])
        else:
            w = spark.createDataFrame(
                [(int(b), float(x)) for b, x in cfg["weights"]],
                "bucket long, weight double",
            )
        id_col = cfg.get("id_col", "doc_id")
        scored = hashed_linear_score(
            df,
            w,
            text_col=cfg.get("text_col", "text"),
            id_col=id_col,
            n_buckets=int(cfg.get("n_buckets", 4096)),
            bias=float(cfg.get("bias", 0.0)),
        ).select(id_col, "score")
        out = df.join(scored, id_col)
        if "min_score" in cfg:
            out = out.filter(F.col("score") >= float(cfg["min_score"]))
        return out


@register_transform("decontaminate")
class Decontaminate(BaseTransform):
    """Drop rows that share word n-grams with a benchmark / held-out
    set — the YAML-pipeline form of the decontamination gate
    (``contamination_pairs``; see split_decontamination_stats and the
    decontam e2e for the audited semantics).

    config:
      benchmark_path: PATH     # parquet of benchmark docs (text_col +
                               # id_col schema), read lazily; OR
      index_path: PATH         # prebuilt persisted gram-hash index
                               # (operators/decontam_index.py) — skips
                               # benchmark tokenization entirely; OR
      holdout_pct: INT         # derive the benchmark as the hash
                               # split's top holdout_pct% of THIS input
                               # (rows hash(id) % 100 >= 100 - pct);
                               # the output then contains only clean
                               # NON-holdout rows
      text_col: text
      id_col: doc_id
      n: 5                     # gram size (8-13 in published pipelines)
      min_shared: 1            # grams shared to count as contaminated

    Exactly one of benchmark_path / index_path / holdout_pct is
    required. Scale: one token-scale gram-hash equi-join + one
    id-keyed anti-join. In ``benchmark_path`` mode the benchmark is a
    real eval file (small by construction) and its gram side is
    broadcast; ``index_path`` reads the already-hashed gram table (the
    cross-run path — the index is eval-suite-sized and AQE broadcasts
    it from real stats); in ``holdout_pct`` mode the benchmark is a
    CORPUS FRACTION, so the gram join shuffles both sides on the hash
    — broadcasting a holdout that scales with the corpus would OOM
    the driver at 100 TB (VERDICT r12 #1)."""

    def validate(self, df: DataFrame) -> None:
        cfg = self.config
        modes = [k for k in ("benchmark_path", "index_path", "holdout_pct")
                 if k in cfg]
        if len(modes) != 1:
            raise ValueError(
                "decontaminate: config needs exactly one of "
                "'benchmark_path', 'index_path' or 'holdout_pct'"
            )
        for key in (cfg.get("text_col", "text"), cfg.get("id_col", "doc_id")):
            if key not in df.columns:
                raise ValueError(f"decontaminate: column {key!r} not in input")

    def transform(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        self.validate(df)
        text_col = cfg.get("text_col", "text")
        id_col = cfg.get("id_col", "doc_id")
        if "index_path" in cfg:
            from etl_ml_pipeline_spark.operators.decontam_index import (
                gate_against_index,
                read_gram_index,
            )

            verdicts = gate_against_index(
                df,
                read_gram_index(df.sparkSession, str(cfg["index_path"])),
                text_col=text_col,
                id_col=id_col,
                n=int(cfg.get("n", 5)),
                min_shared=int(cfg.get("min_shared", 1)),
            )
            # reserved alias: a user frame may itself carry an "id"
            # column, which would make the join condition ambiguous
            flagged = verdicts.filter(F.col("contaminated")).select(
                F.col("id").alias("__decontam_hit_id")
            )
            return df.join(
                flagged,
                F.col(id_col) == F.col("__decontam_hit_id"),
                "left_anti",
            )
        if "benchmark_path" in cfg:
            # Size-guard the broadcast hint (ADVICE r13 #3): a caller
            # pointing benchmark_path at a LARGE parquet must not
            # re-create the forced-broadcast scale-killer VERDICT r12
            # #1 removed from the corpus-fraction modes — only hint
            # while the file is provably small on disk; otherwise AQE
            # picks the strategy from real runtime sizes.
            from etl_ml_pipeline_spark.sizing import (
                BROADCAST_MAX_BYTES,
                path_bytes,
            )

            corpus = df
            bench = df.sparkSession.read.parquet(str(cfg["benchmark_path"]))
            nbytes = path_bytes(str(cfg["benchmark_path"]))
            small_bench = nbytes is not None and nbytes <= BROADCAST_MAX_BYTES
        else:
            pct = int(cfg["holdout_pct"])
            h = token_hash60(F.col(id_col).cast("string")) % 100
            corpus = df.filter(h < 100 - pct)
            bench = df.filter(h >= 100 - pct)
            small_bench = False
        pairs = contamination_pairs(
            corpus,
            bench,
            text_col=text_col,
            id_col=id_col,
            n=int(cfg.get("n", 5)),
            min_shared=int(cfg.get("min_shared", 1)),
            broadcast_bench=small_bench,
        )
        return corpus.join(
            pairs.select("corpus_id").distinct(),
            F.col(id_col) == F.col("corpus_id"),
            "left_anti",
        )


@register_transform("preference_pairs")
class PreferencePairs(BaseTransform):
    """Assemble DPO/RLHF (chosen, rejected) training pairs from a
    scored candidate pool — the YAML-pipeline form of the catalog's
    ``preference_pair_construction`` (see that query for the audited
    semantics). Candidates are grouped by a prompt key, the best and
    worst scorer in each group become the pair, and zero-margin groups
    emit nothing (a tie teaches a DPO loss nothing).

    config:
      id_col: doc_id
      group_cols: [lang]    # prompt-group key columns
      bucket_col: n_chars   # optional numeric column bucketed into the key
      bucket_size: 200
      score_col: null       # precomputed score column; default derives an
                            # integer-grid type-token-ratio from text_col
      text_col: text        # only read when score_col is absent

    Output: one row per positive-margin group — the group key columns
    (+ ``bucket`` when bucket_col is set), n_candidates, chosen_id,
    rejected_id, chosen_score, rejected_score, margin.
    Scale: one map-side score projection + ONE exchange on the group
    key (both rank-1 windows and the rollup share it); never a
    per-group candidates x candidates self-join.
    """

    def validate(self, df: DataFrame) -> None:
        cfg = self.config
        group_cols = cfg.get("group_cols", ["lang"])
        if not group_cols and "bucket_col" not in cfg:
            raise ValueError(
                "preference_pairs: need group_cols and/or bucket_col"
            )
        need = [cfg.get("id_col", "doc_id"), *group_cols]
        if "bucket_col" in cfg:
            need.append(cfg["bucket_col"])
        need.append(cfg.get("score_col") or cfg.get("text_col", "text"))
        for c in need:
            if c not in df.columns:
                raise ValueError(
                    f"preference_pairs: column {c!r} not in input"
                )

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        cfg = self.config
        id_col = cfg.get("id_col", "doc_id")
        group_cols = list(cfg.get("group_cols", ["lang"]))
        if "bucket_col" in cfg:
            size = int(cfg.get("bucket_size", 200))
            df = df.withColumn(
                "bucket", F.floor(F.col(cfg["bucket_col"]) / size).cast("long")
            )
            group_cols.append("bucket")
        if cfg.get("score_col"):
            score = F.col(cfg["score_col"]).cast("double")
        else:
            toks = F.split(F.trim(F.col(cfg.get("text_col", "text"))), r"\s+")
            score = F.floor(
                F.size(F.array_distinct(toks)).cast("long")
                * 1_000_000
                / F.size(toks)
            ).cast("double")
        # Null scores (null text with no score_col, or a null score
        # column) would sort FIRST under the asc rn_worst window, making
        # a null-scored candidate the rejected_id — then
        # chosen_score > null is null and the whole group silently
        # drops even when it holds a valid positive-margin pair
        # (ADVICE r14 #2). A score-less candidate can't participate in
        # a preference pair; drop it before ranking.
        scored = df.select(*group_cols, F.col(id_col).alias("__pid"),
                           score.alias("__score")).filter(
            F.col("__score").isNotNull()
        )
        grp = W.partitionBy(*group_cols)
        ranked = scored.select(
            *group_cols,
            "__pid",
            "__score",
            F.row_number()
            .over(grp.orderBy(F.desc("__score"), F.asc("__pid")))
            .alias("__rb"),
            F.row_number()
            .over(grp.orderBy(F.asc("__score"), F.asc("__pid")))
            .alias("__rw"),
        )
        pairs = ranked.groupBy(*group_cols).agg(
            F.count("*").alias("n_candidates"),
            F.max(F.when(F.col("__rb") == 1, F.col("__pid"))).alias("chosen_id"),
            F.max(F.when(F.col("__rb") == 1, F.col("__score"))).alias(
                "chosen_score"
            ),
            F.max(F.when(F.col("__rw") == 1, F.col("__pid"))).alias(
                "rejected_id"
            ),
            F.max(F.when(F.col("__rw") == 1, F.col("__score"))).alias(
                "rejected_score"
            ),
        )
        return pairs.filter(
            (F.col("n_candidates") >= 2)
            & (F.col("chosen_score") > F.col("rejected_score"))
        ).withColumn(
            "margin", F.col("chosen_score") - F.col("rejected_score")
        )


@register_transform("pii_scrub")
class PiiScrub(BaseTransform):
    """Adds pii counts and replaces the text column with its scrubbed
    form (config: text_col, keep_original: bool)."""

    def transform(self, df: DataFrame) -> DataFrame:
        text_col = self.config.get("text_col", "text")
        c = F.col(text_col)
        out = df.withColumn("pii", pii_counts(c))
        if self.config.get("keep_original"):
            out = out.withColumn(f"{text_col}_raw", c)
        return out.withColumn(text_col, scrub_pii(c))


@register_transform("text_analysis")
class TextAnalysis(BaseTransform):
    """Adds token/quality/fingerprint columns to a text DataFrame."""

    def transform(self, df: DataFrame) -> DataFrame:
        text_col = self.config.get("text_col", "text")
        c = F.col(text_col)
        out = {
            "n_tokens": token_count(c),
            "n_unique_tokens": unique_token_count(c),
            "avg_token_len": avg_token_length(c),
            "type_token_ratio": type_token_ratio(c),
            "stopword_ratio": stopword_count(c) / token_count(c),
            "quality": quality_score(c),
            "fingerprint": fingerprint(c),
            "en_score": en_score(c),
        }
        keep = self.config.get("columns")
        if keep:
            out = {k: v for k, v in out.items() if k in keep}
        return df.withColumns(out)


# Rolling-hash (winnowing) fingerprints — Rabin-Karp k-gram hashes with
# per-window minima, the standard document-fingerprint sketch
# (Schleimer/Wilkerson/Aiken winnowing). Implemented as an Arrow-batched
# pandas UDF: the hash is a per-character RECURRENCE (h' = (h - c_out*B^(k-1))*B
# + c_in mod M), which Spark's higher-order array functions can only
# express as nested interpreted lambdas (measured ~100x slower than this
# UDF). Pure-integer arithmetic -> values are engine-exact; the DuckDB
# oracle recomputes the same polynomial with list comprehensions.
WINNOW_BASE = 257
WINNOW_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _kgram_hash_list(text: str, k: int) -> list[int]:
    """Rabin-Karp: O(n) sliding polynomial hash of every k-char gram."""
    codes = [ord(ch) for ch in text]
    n = len(codes)
    if n < k:
        return []
    h = 0
    for c in codes[:k]:
        h = (h * WINNOW_BASE + c) % WINNOW_MOD
    out = [h]
    drop = pow(WINNOW_BASE, k - 1, WINNOW_MOD)
    for i in range(k, n):
        h = ((h - codes[i - k] * drop) * WINNOW_BASE + codes[i]) % WINNOW_MOD
        out.append(h)
    return out


def _winnow_list(hashes: list[int], w: int) -> list[int]:
    """Distinct minima of each w-window (ascending) — the winnow sketch."""
    n = len(hashes)
    if n < w:
        return []
    mins = {min(hashes[i : i + w]) for i in range(n - w + 1)}
    return sorted(mins)


def winnow_fingerprints(col: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing sketch: guarantees every match of length >= w+k-1
    shares a fingerprint — the property that makes the sketch a
    near-dup / plagiarism index key."""

    @F.pandas_udf("array<bigint>")
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: _winnow_list(_kgram_hash_list(t or "", k), w)
        )

    return _udf(col)


def bpe_train_merges(
    words: "DataFrame", word_col: str = "w", rounds: int = 4
) -> "DataFrame":
    """Distributed BPE tokenizer training: learn the first ``rounds``
    merge rules over a word corpus (byte-pair encoding, Sennrich et al.
    2016 — public algorithm; no reference counterpart, part of the
    LLM-data-pipeline extension surface).

    Each word becomes a symbol sequence (one marker-wrapped character
    per symbol, ``·a· ·b· ·c·``); each round counts adjacent symbol
    pairs corpus-wide, picks the most frequent (ties broken by pair
    text ascending, so training is deterministic), and applies the
    merge as a LITERAL string replace — the markers make token
    boundaries unambiguous, so a pair can never match across symbol
    or word boundaries, and replace()'s left-to-right non-overlapping
    scan is identical in Spark and DuckDB (the oracle replays training
    exactly).

    Returns one row per round: (round, pair, merged, n).

    Scale: training runs over the WORD-FREQUENCY DICTIONARY, not raw
    tokens — one corpus-wide word-count shuffle up front, then every
    round's pair count is a sum of freq over the (much smaller) dict,
    exactly like the published BPE trainer. Merge application is a
    map-only literal replace; the winning pair reaches the next round
    through a broadcast of a 1-row aggregate, so NOTHING is collected
    to the driver and the whole training is one declarative plan.
    Production trainers amortize passes by taking the top-M pairs per
    round; rounds here are the catalog's k=4.
    """
    _, tops = _bpe_schedule(words, word_col, rounds)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out


def bpe_word_tokens(
    words: "DataFrame", word_col: str = "w", rounds: int = 4
) -> "DataFrame":
    """BPE tokenizer APPLICATION: train the first ``rounds`` merges on
    the word corpus (identical schedule to :func:`bpe_train_merges`),
    then return the post-merge token count for every DISTINCT word —
    the word -> n_tokens dictionary an encoder joins against.

    Returns (``word_col``, n_tokens). Encoding a document is then a
    word-level equi-join against this dictionary plus a per-doc sum —
    the dictionary is vocabulary-sized, so at 100 TB the join is a
    broadcast (or a dict-sized shuffle) while the merge loop itself
    never touches the raw token stream, exactly like production
    tokenizer training + apply.
    """
    corpus, _ = _bpe_schedule(words, word_col, rounds)
    return corpus.select(
        F.col(word_col),
        F.size(F.split(F.col("seq"), " ")).cast("bigint").alias("n_tokens"),
    )


def bpe_word_dict(
    words: "DataFrame", word_col: str = "w", rounds: int = 4
) -> "DataFrame":
    """:func:`bpe_word_tokens` plus the DECODE leg: ``decoded`` strips
    the symbol markers and separators from the post-merge sequence.
    BPE merges are pure re-groupings of the character stream, so
    ``decoded == word`` must hold for every word (the tokenizer
    round-trip contract; the catalog's text_bpe_roundtrip pins it
    per-language). The one documented exception: a word that itself
    contains the marker character ``·`` decodes lossily — both engines
    compute the identical flag, so the differential still pins it.

    Returns (``word_col``, n_tokens, decoded). Same plan shape as
    bpe_word_tokens — the decode is two map-side literal replaces on
    the vocabulary-sized dictionary, nothing touches the raw stream.
    """
    corpus, _ = _bpe_schedule(words, word_col, rounds)
    return corpus.select(
        F.col(word_col),
        F.size(F.split(F.col("seq"), " ")).cast("bigint").alias("n_tokens"),
        F.replace(
            F.replace(F.col("seq"), F.lit(" "), F.lit("")),
            F.lit("·"),
            F.lit(""),
        ).alias("decoded"),
    )


def _bpe_schedule(
    words: "DataFrame", word_col: str, rounds: int
) -> tuple["DataFrame", list["DataFrame"]]:
    """Shared BPE merge loop: returns the final corpus state (word,
    seq, freq) and the per-round winning-merge DataFrames."""
    seq = F.array_join(
        F.transform(
            F.split(F.col(word_col), ""),
            lambda c: F.concat(F.lit("·"), c, F.lit("·")),
        ),
        " ",
    )
    corpus = (
        words.filter(F.col(word_col) != "")
        .groupBy(word_col)
        .agg(F.count("*").alias("freq"))
        .select(F.col(word_col), seq.alias("seq"), "freq")
    )

    tops = []
    for r in range(1, rounds + 1):
        toks = F.split(F.col("seq"), " ")
        n_tok = F.size(toks)
        pairs = F.zip_with(
            F.slice(toks, 1, n_tok - 1),
            F.slice(toks, 2, n_tok - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        counts = (
            corpus.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
        )
        top = (
            counts.orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .select(
                F.lit(r).alias("round"),
                "pair",
                F.replace(F.col("pair"), F.lit("· ·"), F.lit("")).alias(
                    "merged"
                ),
                "n",
            )
        )
        tops.append(top)
        corpus = corpus.crossJoin(F.broadcast(top.select("pair", "merged"))).select(
            F.col(word_col),
            F.replace(F.col("seq"), F.col("pair"), F.col("merged")).alias("seq"),
            "freq",
        )

    return corpus, tops
