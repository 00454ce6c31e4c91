"""Deduplication queries (oracle-matched, including MinHash + SimHash).

The driver corpus has no duplicates, so every query first constructs a
deterministic dup'd corpus the oracle replicates:

- exact dups:  docs with doc_id % 7 == 0 re-inserted as doc_id + _DUP_OFFSET
- near dups:   docs with doc_id % 11 == 0 re-inserted as
               doc_id + 2 * _DUP_OFFSET with two extra tokens appended
               (high-but-<1 Jaccard)

Because every hash derives from md5 (``operators.text.token_hash60``),
the *entire* MinHash signature/banding pipeline and the SimHash bit
aggregation are reproducible in DuckDB SQL — the oracles below are
generated from the same coefficient table the Spark operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.dedup import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    connected_components,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_df,
    simhash16,
)
from etl_ml_pipeline_spark.queries.tables import spread_heavy, t


# Id offset of the injected copies. Far above any base doc_id, so copies
# never merge with base rows (a 1_000_000 offset did at 1M documents).
# It is 10**6 modulo 582 (= 2*3*97) and 0 modulo 10**6, so every filter
# applied after injection (% 2, % 3, % 97, % 1_000_000 < 300 and the
# `doc_id div 2 % 3` batch split) keeps exactly the rows it kept with
# the 1_000_000 / 2_000_000 offsets, and base < exact < near id order
# holds.
_DUP_OFFSET = 1_000_000 + 291_000_000 * 10_000


def _dup_corpus(spark: SparkSession, sf_dir: str, heavy: bool = False) -> DataFrame:
    """Deterministically dup'd corpus in ONE scan.

    A 3-way self-union re-executes the documents scan per branch (3x I/O,
    and 3x the partition count when the scan is rebalanced); instead each
    row emits its 1-3 copies through an explode of a compacted struct
    array — same rows, one scan, one stage. ``heavy=True`` fans the
    corpus out across all cores *after* the explode for the
    compute-bound consumers (MinHash/SimHash hashing), by the heavy scan
    rule, unless the plain scan rule already spread the documents; tiny
    inputs and already-wide scans stay unshuffled.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    copy = F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text"))
    exact = F.when(
        F.col("doc_id") % 7 == 0,
        F.struct(
            (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), F.col("text").alias("text")
        ),
    )
    near = F.when(
        F.col("doc_id") % 11 == 0,
        F.struct(
            (F.col("doc_id") + 2 * _DUP_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
        ),
    )
    corpus = docs.select(
        F.explode(F.array_compact(F.array(copy, exact, near))).alias("c")
    ).select("c.doc_id", "c.text")
    return spread_heavy(spark, corpus, sf_dir, "documents") if heavy else corpus


_DUP_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET}, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + {2 * _DUP_OFFSET}, text || ' extra tail'
  FROM documents WHERE doc_id % 11 = 0
"""


# ---------------------------------------------------------------------------
# dedup_exact_documents — md5-fingerprint exact dedup, keep min(doc_id).
# ---------------------------------------------------------------------------


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No global orderBy: the oracle hash is order-insensitive, and a full
    # output sort is O(N log N) driver-side pain at corpus scale (it was
    # 19% of the round-1 bench headline). heavy=True spreads the md5-over-
    # full-text hashing across all cores instead of the scan's partitioning.
    corpus = _dup_corpus(spark, sf_dir, heavy=True)
    return exact_dedup(corpus, "text", "doc_id").select("doc_id")


_EXACT_SQL = f"""
WITH corpus AS ({_DUP_CORPUS_SQL})
SELECT min(doc_id) AS doc_id
FROM corpus
GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
"""


# ---------------------------------------------------------------------------
# dedup_minhash_documents — full MinHash-LSH candidate pipeline.
# Restricted to doc_id % 3 == 0 of the dup'd corpus to bound the oracle's
# runtime at larger sf (the Spark path scales; DuckDB's unnest does not).
# ---------------------------------------------------------------------------

_N_PERM = 16
_BANDS, _ROWS = 4, 4


def dedup_minhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir, heavy=True).filter(F.col("doc_id") % 3 == 0)
    sh = shingle_df(corpus, "text", "doc_id", n=3)
    sigs = minhash_signatures(sh, n_perm=_N_PERM)
    pairs = lsh_candidate_pairs(sigs, bands=_BANDS, rows=_ROWS)
    return (
        pairs.filter(F.col("est_jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    )


def _minhash_oracle() -> str:
    coeff_rows = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(MINHASH_COEFFS[:_N_PERM])
    )
    min_cols = ", ".join(
        f"min(CASE WHEN perm = {i} THEN ph END) AS m{i}" for i in range(_N_PERM)
    )
    band_exprs = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"m{b * _ROWS + r}" for r in range(_ROWS))
        + f") AS band{b}"
        for b in range(_BANDS)
    )
    band_joins = "\nUNION ALL\n".join(
        f"SELECT a.id AS id_a, b.id AS id_b FROM banded a JOIN banded b "
        f"ON a.band{b} = b.band{b} AND a.id < b.id"
        for b in range(_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(_N_PERM)
    )
    return f"""
WITH corpus AS (
  SELECT * FROM ({_DUP_CORPUS_SQL}) WHERE doc_id % 3 = 0
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
hashed AS (
  SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_PRIME} AS h
  FROM sh
),
perms(perm, a, b) AS (VALUES {coeff_rows}),
permuted AS (
  SELECT id, perm, (a * h + b) % {MINHASH_PRIME} AS ph
  FROM hashed CROSS JOIN perms
),
sigs AS (
  SELECT id, {min_cols} FROM permuted GROUP BY id
),
banded AS (
  SELECT id, *, {band_exprs} FROM sigs
),
cand AS (
  SELECT DISTINCT id_a, id_b FROM ({band_joins})
)
SELECT c.id_a, c.id_b, ({matches}) / {_N_PERM}.0 AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.id = c.id_a
JOIN sigs sb ON sb.id = c.id_b
WHERE ({matches}) / {_N_PERM}.0 >= 0.5
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# dedup_simhash_documents — 16-bit SimHash per doc + dup-bucket pairs.
# ---------------------------------------------------------------------------


def dedup_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir, heavy=True).filter(F.col("doc_id") % 3 == 0)
    sh = shingle_df(corpus, "text", "doc_id", n=3)
    hashes = simhash16(sh)
    return (
        hashes.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("min_doc"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("simhash")
    )


def _simhash_oracle() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    fp = " + ".join(f"CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))
    return f"""
WITH corpus AS (
  SELECT * FROM ({_DUP_CORPUS_SQL}) WHERE doc_id % 3 = 0
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
hashed AS (
  SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
),
sums AS (
  SELECT id, {bit_sums} FROM hashed GROUP BY id
),
fps AS (
  SELECT id, CAST({fp} AS BIGINT) AS simhash FROM sums
)
SELECT simhash, count(*) AS n_docs, min(id) AS min_doc
FROM fps
GROUP BY simhash
HAVING count(*) >= 2
ORDER BY simhash
"""


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — exact word-trigram Jaccard via shared-shingle
# candidates, restricted corpus (doc_id < 300 before dup insertion).
# ---------------------------------------------------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir).filter(
        (F.col("doc_id") % 1_000_000) < 300
    )
    pairs = ngram_jaccard_pairs(corpus, "text", "doc_id", n=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", (F.floor(F.col("jaccard") * 10000) / 10000).alias("jaccard")
    ).orderBy("id_a", "id_b")


_JACCARD_SQL = f"""
WITH corpus AS (
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
-- document-frequency cap (df_cap=0.5): mirrors the operator's guard —
-- shingles in more than half the corpus are dropped before the join.
capped AS (
  SELECT sh.* FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= 0.5 * (SELECT count(*) FROM corpus)) k
  USING (shingle)
),
sizes AS (SELECT id, count(*) AS sz FROM capped GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       floor(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) * 10000) / 10000 AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# dedup_cluster_canonical — near-dup PAIRS -> CLUSTERS via connected
# components (min-label propagation; see operators.dedup). Pairs overlap
# into clusters (a~b, b~c => {a,b,c}); canonical doc per cluster = min id.
# Oracle: transitive closure in a RECURSIVE CTE (small candidate graph).
# ---------------------------------------------------------------------------


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir).filter((F.col("doc_id") % 1_000_000) < 300)
    pairs = ngram_jaccard_pairs(corpus, "text", "doc_id", n=3, threshold=0.5)
    comp = connected_components(pairs)
    return comp.orderBy("node")


_CLUSTER_SQL = f"""
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
)
SELECT node, min(r) AS component
FROM reach GROUP BY node ORDER BY node
"""


# ---------------------------------------------------------------------------
# dedup_fuzzy_ed1_names — fuzzy string join at edit distance <= 1 via
# the FastSS deletion-neighborhood equi-join (operators.dedup.
# ed1_candidate_pairs): explode O(len) one-deletion variants, one
# shuffle on the variant key, exact levenshtein verify. The oracle is
# the brute-force all-pairs levenshtein — feasible on DuckDB because
# the DISTINCT name space is small, while the Spark plan is the one
# that scales (no cross product; plan-guarded in tests/test_plans.py).
# ---------------------------------------------------------------------------


def dedup_fuzzy_ed1_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.dedup import ed1_candidate_pairs

    part = t(spark, sf_dir, "part")
    return ed1_candidate_pairs(part, "p_name").orderBy("name_a", "name_b")


_FUZZY_ED1_SQL = """
WITH names AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
SELECT a.p_name AS name_a, b.p_name AS name_b
FROM names a, names b
WHERE a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 1
ORDER BY name_a, name_b
"""


def dedup_segments_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level ("paragraph") exact dedup over the dup'd corpus:
    10-word segments deduped corpus-wide keep-first, documents
    reassembled from survivors. Exact duplicates (the +1M copies in
    _dup_corpus) lose every segment except where they are first; near
    duplicates keep only their novel tail. clean_text is emitted as
    md5 + length to keep the comparison row compact."""
    from etl_ml_pipeline_spark.operators.dedup import segment_dedup

    out = segment_dedup(_dup_corpus(spark, sf_dir), seg_words=10)
    return out.select(
        "doc_id",
        "n_segs",
        "n_kept",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").alias("clean_chars"),
    )


_SEGMENT_SQL = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
segs AS (
  SELECT doc_id, CAST(u.i AS INT) AS seg_idx,
         array_to_string(list_slice(string_split(text, ' '),
                                    u.i * 10 + 1, u.i * 10 + 10), ' ') AS seg
  FROM corpus,
       UNNEST(range(CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT))) AS u(i)
),
ranked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n_segs
  FROM segs
)
SELECT doc_id,
       CAST(n_segs AS BIGINT) AS n_segs,
       CAST(count(*) AS BIGINT) AS n_kept,
       md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_md5,
       CAST(len(string_agg(seg, ' ' ORDER BY seg_idx)) AS INT) AS clean_chars
FROM ranked
WHERE rn = 1
GROUP BY doc_id, n_segs
"""


# ---------------------------------------------------------------------------
# boilerplate_strip_documents — template-text removal, the web-corpus
# stage BETWEEN raw text and dedup: any 10-word segment present in
# more than 2 distinct documents of the dup'd corpus is boilerplate
# and is stripped from EVERY carrier (segment dedup keeps one copy;
# boilerplate keeps none). One segment-key aggregation builds the
# document-frequency table, a left_anti join strips, one shuffle
# reassembles — no pairwise comparison anywhere (operators/dedup.py
# boilerplate_strip). clean_text is emitted as md5 + length.
# ---------------------------------------------------------------------------


def boilerplate_strip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.dedup import boilerplate_strip

    out = boilerplate_strip(_dup_corpus(spark, sf_dir), seg_words=10, max_df=2)
    return out.select(
        "doc_id",
        "n_segs",
        "n_boiler",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").alias("clean_chars"),
    )


_BOILER_SQL = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
segs AS (
  SELECT doc_id, CAST(u.i AS INT) AS seg_idx,
         array_to_string(list_slice(string_split(text, ' '),
                                    u.i * 10 + 1, u.i * 10 + 10), ' ') AS seg
  FROM corpus,
       UNNEST(range(CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT))) AS u(i)
),
boiler AS (
  SELECT seg FROM (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
  WHERE df > 2
),
counted AS (
  SELECT s.*, count(*) OVER (PARTITION BY doc_id) AS n_segs FROM segs s
)
SELECT doc_id,
       CAST(n_segs AS BIGINT) AS n_segs,
       CAST(n_segs - count(*) AS BIGINT) AS n_boiler,
       md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_md5,
       CAST(len(string_agg(seg, ' ' ORDER BY seg_idx)) AS INT) AS clean_chars
FROM counted
WHERE seg NOT IN (SELECT seg FROM boiler)
GROUP BY doc_id, n_segs
"""


# ---------------------------------------------------------------------------
# dedup_semantic_clusters — SemDeDup (Abbas et al. 2023, public): k-means
# cluster the embedding corpus, then prune near-duplicates INSIDE each
# cluster only — the clustering bounds the pairwise comparison to
# O(sum c_i^2) instead of O(N^2), which is the published scale recipe
# for semantic dedup at web scale (k grows with N so cluster sizes stay
# bounded; here k=8 over a bounded id slice so the DuckDB oracle can
# replay the full composition).
#
# Exactness: clustering reuses the micro-integer Lloyd schedule of
# kmeans_lloyd_embeddings (same seeds/iters — the oracle unrolls it via
# ml_q._km_round); the near-dup test is cos >= 0.999 evaluated WITHOUT
# floats: dot > 0 AND 1e6*dot^2 >= 998001*|a|^2*|b|^2, int128/decimal38
# on either engine, so no pair can straddle the threshold.
#
# Scale: one k*d-row shuffle per Lloyd round, map-only assignment, one
# equi-join on cluster for the pairwise stage (never a cross join), and
# a per-cluster aggregate. Injected dups: every 5th vector re-inserted
# as a 2x-scaled copy (cosine exactly 1, id + 100_000).
# ---------------------------------------------------------------------------

_SEM_K, _SEM_ITERS, _SEM_CAP = 8, 2, 1200


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.dedup import (
        semantic_assignments,
        semantic_dup_pairs,
    )

    base = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _SEM_CAP)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    scaled = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    assigned = semantic_assignments(
        base.unionByName(scaled), k=_SEM_K, iters=_SEM_ITERS
    )
    pairs = semantic_dup_pairs(assigned, cos_milli=999)
    mem = assigned.groupBy("cluster").agg(F.count("*").alias("n_members"))
    dup = pairs.groupBy("cluster").agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_dups"),
    )
    return (
        mem.join(dup, "cluster", "left")
        .select(
            "cluster",
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
            (F.col("n_members") - F.coalesce("n_dups", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cluster")
    )


def _semantic_oracle() -> str:
    from etl_ml_pipeline_spark.queries.ml_q import _km_dist, _km_round

    return f"""
WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS e
  FROM (
    SELECT vec_id, embedding::DOUBLE[] AS embedding
    FROM embeddings WHERE vec_id < {_SEM_CAP}
    UNION ALL
    SELECT vec_id + 100000,
           list_transform(embedding::DOUBLE[], x -> x * 2.0)
    FROM embeddings WHERE vec_id < {_SEM_CAP} AND vec_id % 5 = 0
  )
),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         e AS c
  FROM (SELECT * FROM emb ORDER BY vec_id LIMIT {_SEM_K})
),{_km_round('init', 1)},{_km_round('c1', 2)},
af AS (
  SELECT v.vec_id, v.e,
         (SELECT i.cluster FROM c2 i
          ORDER BY {_km_dist('v.e', 'i.c')}, i.cluster LIMIT 1) AS cluster
  FROM emb v
),
nrm AS (
  SELECT vec_id, e, cluster,
         CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS n2
  FROM af
),
flag AS (
  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_sum(list_transform(list_zip(a.e, b.e),
                                      p -> p[1] * p[2])) AS BIGINT) AS dot,
         a.n2 AS na2, b.n2 AS nb2
  FROM nrm a JOIN nrm b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
),
dupes AS (
  SELECT cluster,
         CAST(count(*) AS BIGINT) AS n_dup_pairs,
         CAST(count(DISTINCT id_b) AS BIGINT) AS n_dups
  FROM flag
  WHERE dot > 0
    AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 1000000
        >= CAST(998001 AS HUGEINT) * CAST(na2 AS HUGEINT)
           * CAST(nb2 AS HUGEINT)
  GROUP BY cluster
),
mem AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
        FROM af GROUP BY cluster)
SELECT m.cluster, n_members,
       coalesce(n_dup_pairs, 0) AS n_dup_pairs,
       coalesce(n_dups, 0) AS n_dups,
       n_members - coalesce(n_dups, 0) AS n_kept
FROM mem m LEFT JOIN dupes USING (cluster)
ORDER BY cluster
"""


# ---------------------------------------------------------------------------
# dedup_exact_substring — ExactSubstr-style repeated-window dedup (Lee
# et al. 2021, "Deduplicating Training Data Makes Language Models
# Better", public): flag every ``_ES_W``-word window whose exact text
# occurs >= 2 times ANYWHERE in the corpus, then summarize per document
# (window count, duplicated-window count, and the drop verdict when
# >= ``_ES_DROP_PCT``% of its windows are duplicated). The published
# method uses a suffix array; the Spark-native equivalent is the
# rolling-window hash multiset — every window md5s to a key, one
# map-side-combined shuffle counts occurrences, one equi-join annotates
# windows — which finds exactly the same >=W-word repeated substrings
# (any longer shared substring is a run of shared W-windows).
#
# Scale: windows ~= token count, so the plan is two shuffles over
# token-scale data (hash count, hash join-back) and a doc-level
# aggregate — no all-pairs, no suffix sort. The dup'd corpus guarantees
# signal: exact re-inserts share ALL windows, near re-inserts all but
# the tail. Integer-exact output (counts + an integer-ratio boolean);
# md5 windows reproduce bit-identically in DuckDB.
# ---------------------------------------------------------------------------

_ES_W = 10
_ES_DROP_PCT = 50


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.dedup import (
        exact_substring_dup_stats,
    )

    corpus = _dup_corpus(spark, sf_dir, heavy=True)
    perdoc = exact_substring_dup_stats(corpus, window_words=_ES_W)
    return (
        perdoc.filter(F.col("n_dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            (
                100 * F.col("n_dup_windows")
                >= _ES_DROP_PCT * F.col("n_windows")
            ).alias("drop_doc"),
        )
        .orderBy(F.desc("n_dup_windows"), "doc_id")
        .limit(50)
    )


_EXACT_SUBSTR_SQL = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
idx AS (
  SELECT doc_id, w,
         unnest(generate_series(1, len(w) - {_ES_W} + 1)) AS i
  FROM ws WHERE len(w) >= {_ES_W}
),
wins AS (
  SELECT doc_id,
         md5(array_to_string(w[i:i + {_ES_W} - 1], ' ')) AS h
  FROM idx
),
counts AS (SELECT h, count(*) AS c FROM wins GROUP BY h),
perdoc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM wins JOIN counts USING (h)
  GROUP BY doc_id
)
SELECT doc_id, n_windows, n_dup_windows,
       100 * n_dup_windows >= {_ES_DROP_PCT} * n_windows AS drop_doc
FROM perdoc
WHERE n_dup_windows > 0
ORDER BY n_dup_windows DESC, doc_id
LIMIT 50
"""


# ---------------------------------------------------------------------------
# dedup_cross_snapshot_delta — incremental corpus hygiene: which
# documents of the NEW snapshot are genuinely new vs exact carries of
# the previous snapshot (the delta a recurring crawl computes before
# reprocessing anything downstream — carried docs keep their features,
# new docs enter the pipeline). Snapshots are the doc_id parity halves
# (A = previous, B = current); membership is the engine's standard
# whitespace-normalized md5 fingerprint, met in one LEFT SEMI-shaped
# join on the fingerprint — per-language counts of carried vs new.
# Scale: each side maps to (fingerprint) keys and meets in ONE
# fingerprint equi-join (A side reduced to distinct fingerprints
# first, so the join's build input is |unique texts|, not rows).
# ---------------------------------------------------------------------------


def dedup_cross_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.text import fingerprint

    docs = t(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    a = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(fp.alias("fp"))
        .distinct()
        .withColumn("carried", F.lit(1))
    )
    b = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", fp.alias("fp")
    )
    j = b.join(a, "fp", "left")
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("carried", F.lit(0))).cast("long").alias(
                "n_carried"
            ),
            (F.count("*") - F.sum(F.coalesce("carried", F.lit(0))))
            .cast("long")
            .alias("n_new"),
            (
                F.floor(
                    F.sum(F.coalesce("carried", F.lit(0))) * 10000 / F.count("*")
                )
                / 10000
            ).alias("carry_rate"),
        )
        .orderBy("lang")
    )


_SNAPSHOT_DELTA_SQL = """
WITH fps AS (
  SELECT doc_id, lang,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
a AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
b AS (SELECT doc_id, lang, fp FROM fps WHERE doc_id % 2 = 1),
j AS (
  SELECT b.lang, CASE WHEN a.fp IS NOT NULL THEN 1 ELSE 0 END AS carried
  FROM b LEFT JOIN a ON b.fp = a.fp
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(carried) AS BIGINT) AS n_carried,
       CAST(count(*) - sum(carried) AS BIGINT) AS n_new,
       floor(sum(carried) * 10000 / count(*)) / 10000 AS carry_rate
FROM j
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# dedup_rate_by_source — the per-source hygiene report every dedup run
# ends with: for each ingest source, how much of it is internal
# duplication (same text repeated within the source) and how much of
# its unique material also exists in OTHER sources (inter-source
# redundancy — the "can we drop this crawl" number). Membership is the
# engine's standard whitespace-normalized md5 fingerprint.
# Scale: one (source, fp) groupBy, one fp-keyed count of sources per
# fingerprint, one join back on fp — all uniform md5 keys, no skew; the
# output is |sources| rows regardless of corpus size. Text is hashed
# map-side and never shuffled.
# ---------------------------------------------------------------------------


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.text import fingerprint

    docs = t(spark, sf_dir, "documents")
    per_sf = (
        docs.select("source", fingerprint(F.col("text")).alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count("*").alias("n"))
    )
    fp_sources = per_sf.groupBy("fp").agg(F.count("*").alias("n_sources"))
    j = per_sf.join(fp_sources, "fp")
    return (
        j.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_unique"),
            (F.sum("n") - F.count("*")).cast("long").alias("n_intra_dupes"),
            (
                F.floor((F.sum("n") - F.count("*")) * 10000 / F.sum("n"))
                / 10000
            ).alias("intra_dup_rate"),
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_texts"),
            (
                F.floor(
                    F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
                    * 10000
                    / F.count("*")
                )
                / 10000
            ).alias("shared_rate"),
        )
        .orderBy("source")
    )


_RATE_BY_SOURCE_SQL = """
WITH fps AS (
  SELECT source,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
per_sf AS (
  SELECT source, fp, count(*) AS n FROM fps GROUP BY 1, 2
),
fp_sources AS (
  SELECT fp, count(*) AS n_sources FROM per_sf GROUP BY 1
)
SELECT p.source,
       CAST(sum(p.n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(p.n) - count(*) AS BIGINT) AS n_intra_dupes,
       floor((sum(p.n) - count(*)) * 10000 / sum(p.n)) / 10000
         AS intra_dup_rate,
       CAST(sum(CASE WHEN s.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_texts,
       floor(sum(CASE WHEN s.n_sources > 1 THEN 1 ELSE 0 END) * 10000
             / count(*)) / 10000 AS shared_rate
FROM per_sf p JOIN fp_sources s USING (fp)
GROUP BY p.source
ORDER BY p.source
"""


QUERIES = {
    "dedup_rate_by_source": dedup_rate_by_source,
    "dedup_cross_snapshot_delta": dedup_cross_snapshot_delta,
    "dedup_exact_documents": dedup_exact_documents,
    "dedup_exact_substring": dedup_exact_substring,
    "dedup_semantic_clusters": dedup_semantic_clusters,
    "boilerplate_strip_documents": boilerplate_strip_documents,
    "dedup_cluster_canonical": dedup_cluster_canonical,
    "dedup_minhash_documents": dedup_minhash_documents,
    "dedup_simhash_documents": dedup_simhash_documents,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_fuzzy_ed1_names": dedup_fuzzy_ed1_names,
    "dedup_segments_documents": dedup_segments_documents,
}

ORACLES = {
    "dedup_rate_by_source": _RATE_BY_SOURCE_SQL,
    "dedup_cross_snapshot_delta": _SNAPSHOT_DELTA_SQL,
    "dedup_exact_documents": _EXACT_SQL,
    "dedup_exact_substring": _EXACT_SUBSTR_SQL,
    "dedup_semantic_clusters": _semantic_oracle(),
    "boilerplate_strip_documents": _BOILER_SQL,
    "dedup_cluster_canonical": _CLUSTER_SQL,
    "dedup_minhash_documents": _minhash_oracle(),
    "dedup_simhash_documents": _simhash_oracle(),
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_fuzzy_ed1_names": _FUZZY_ED1_SQL,
    "dedup_segments_documents": _SEGMENT_SQL,
}
