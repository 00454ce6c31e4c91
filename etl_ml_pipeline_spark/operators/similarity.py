"""Similarity search over embedding columns (array<float>).

LLM-data-pipeline extension (BASELINE.json north star): brute-force
cosine top-k as the exact baseline, and a random-hyperplane LSH bucketed
variant as the scale path (candidates from bucket equality instead of a
full cross product).

Array math uses built-in higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, sequential left-fold accumulation, which is
bit-identical to DuckDB's list functions (verified empirically), so the
brute-force path is oracle-comparable.

Scale posture: brute-force is O(Q*N) — correct for reranking and small
query sets; the LSH path hashes every vector once (map-side), then joins
on bucket — the classic sub-linear candidate generation. At 100 TB the
bucketed join shuffles only (bucket, id, vec) and each bucket is small;
skewed buckets (hot hyperplane regions) fall back to AQE skew handling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.base import BaseTransform
from etl_ml_pipeline_spark.registry import register_transform


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cos_clamped(a: Column, b: Column) -> Column:
    """Cosine clamped to [-1, 1]. The raw sequential fold returns
    1.0000000000000002 on identical vectors (s / (sqrt(s)*sqrt(s)));
    any expression DERIVED from cosines (MMR's lam*rel - mu*div, score
    margins, …) must clamp on BOTH engines or the ulp surfaces exactly
    on a truncation boundary (caught at synthetic sf1; see
    verify/SKILL.md). Plain trunc4(cos) outputs are safe unclamped."""
    return F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cosine(a, b)))


def _rank_topk(
    df: DataFrame,
    score: str,
    k: int,
    q_id: str,
    c_id: str,
    ascending: bool = False,
    rank_col: str = "rank",
) -> DataFrame:
    """The one per-query top-k cut every ANN variant shares: number each
    ``q_id``'s rows by ``score`` (descending, or ascending for
    distances), ties on the lower ``c_id``, and keep the first ``k``.
    One shuffle on q_id for the window."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy(q_id).orderBy(order, F.asc(c_id))
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query."""
    joined = corpus.crossJoin(F.broadcast(queries)).withColumn(
        "cos", cosine(as_double(F.col(q_vec)), as_double(F.col(c_vec)))
    )
    return _rank_topk(joined, "cos", k, q_id, c_id).select(q_id, "rank", c_id, "cos")


def make_hyperplanes(dim: int, n_bits: int, seed: int = 0) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def add_lsh_bucket(
    df: DataFrame, vec_col: str, planes: np.ndarray, out_col: str = "bucket"
) -> DataFrame:
    """Sign-bit bucket id per vector via an Arrow-batched pandas UDF.

    The hyperplane matrix ships to executors once (closure broadcast);
    each batch is one numpy matmul — vectorized, no per-row Python.
    """
    planes_list = planes.tolist()

    @F.pandas_udf("long")
    def bucket(vecs: pd.Series) -> pd.Series:
        p = np.asarray(planes_list)  # (bits, dim)
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = (mat @ p.T) > 0  # (batch, bits)
        weights = (1 << np.arange(bits.shape[1])).astype(np.int64)
        return pd.Series(bits.astype(np.int64) @ weights)

    return df.withColumn(out_col, bucket(F.col(vec_col)))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: np.ndarray,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, exact
    cosine reranking within the bucket only."""
    qb = add_lsh_bucket(queries, q_vec, planes, "bucket")
    cb = add_lsh_bucket(corpus, c_vec, planes, "bucket")
    cand = cb.join(F.broadcast(qb), "bucket").withColumn(
        "cos", cosine(as_double(F.col(q_vec)), as_double(F.col(c_vec)))
    )
    return _rank_topk(cand, "cos", k, q_id, c_id).select(
        q_id, "rank", c_id, "cos", "bucket"
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    dim: int,
    vec_col: str = "v",
    id_col: str = "id",
    threshold: float = 0.999,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Near-duplicate pair detection via multi-table sign-LSH buckets —
    the scale-safe replacement for the all-pairs ``crossJoin`` + cosine
    filter (O(N²) rows; a cross join over a corpus is the one plan shape
    that can never survive a 100× scale-up).

    Shape: ONE pandas-UDF matmul buckets every vector into ``n_tables``
    sign-bit buckets (a single (batch × n_tables·n_bits) product),
    posexplode to (table, bucket) keys, self-equi-join on the composite
    key — a plain shuffled hash join, never a cartesian — then exact
    cosine verification and pair dedup across tables.

    Recall: a pair at angle θ collides in one b-bit table w.p.
    (1−θ/π)^b; across T tables 1−(1−(1−θ/π)^b)^T. At threshold 0.999
    (θ≈2.56°) with b=8, T=4 that is ≈0.9999; exact duplicates (θ=0,
    cosine 1.0 — e.g. scaled copies, since sign buckets are invariant
    to positive scaling) collide with probability 1 in EVERY table.

    Cost: candidates per bucket are quadratic in bucket size; n_bits
    controls expected bucket occupancy (N/2^b per table under random
    signs). Raise n_bits as the corpus grows; hot buckets (degenerate
    embedding mass) are the AQE-skew / max-bucket territory the MinHash
    path also documents.
    """
    planes = make_hyperplanes(dim, n_tables * n_bits, seed)
    planes_list = planes.tolist()

    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        p = np.asarray(planes_list)  # (T*b, dim)
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = ((mat @ p.T) > 0).astype(np.int64)  # (batch, T*b)
        bits = bits.reshape(len(mat), n_tables, n_bits)
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        return pd.Series(list(bits @ weights))  # (batch, T)

    # The bucket self-join carries ONLY (id, table, bucket) — never the
    # vectors, which would otherwise ride the shuffle once per hash
    # table (n_tables x the embedding payload; at corpus scale the
    # vectors ARE the data volume). Vectors re-join afterwards for the
    # candidate pairs only — a set that bucketing has already made tiny
    # relative to the corpus.
    keyed = df.select(
        F.col(id_col).alias("__nid"),
        F.posexplode(buckets(F.col(vec_col))).alias("__tbl", "__bucket"),
    )
    pair_ids = (
        keyed.alias("a")
        .join(keyed.alias("b"), ["__tbl", "__bucket"])
        .filter(F.col("a.__nid") < F.col("b.__nid"))
        .select(F.col("a.__nid").alias("id_a"), F.col("b.__nid").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    return (
        pair_ids.join(vecs.withColumnsRenamed({"__vid": "id_a", "__v": "__va"}), "id_a")
        .join(vecs.withColumnsRenamed({"__vid": "id_b", "__v": "__vb"}), "id_b")
        .withColumn("cos", cosine(as_double(F.col("__va")), as_double(F.col("__vb"))))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


@register_transform("similarity_topk")
class SimilarityTopK(BaseTransform):
    """Config-driven ANN: joins the input (corpus) against a query table
    registered as a temp view; ``exact``, ``lsh`` or ``mmr`` mode
    (mmr = exact pool of ``pool`` candidates, then greedy maximal-
    marginal-relevance diversification down to k via the cogroup
    kernel — ``lambda`` weighs relevance, 1-lambda redundancy)."""

    def transform(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        queries = spark.table(self.config["queries_view"])
        k = int(self.config.get("k", 5))
        mode = self.config.get("mode", "exact")
        if mode == "lsh":
            dim = int(self.config.get("dim", 64))
            bits = int(self.config.get("n_bits", 12))
            planes = make_hyperplanes(dim, bits, int(self.config.get("seed", 0)))
            return lsh_topk(queries, df, planes, k=k)
        if mode == "mmr":
            lam = float(self.config.get("lambda", 0.7))
            pool_n = int(self.config.get("pool", 3 * k))
            # Rank the pool by the CLAMPED cosine, as ann_mmr_rerank_topk
            # does: the MMR score subtracts relevance and redundancy, so
            # an unclamped 1.0000000000000002 on a duplicate vector
            # would land the ulp on a downstream truncation boundary,
            # and ranking by the raw value would put that duplicate
            # ahead of an equally relevant lower c_id.
            scored = df.crossJoin(F.broadcast(queries)).select(
                "q_id",
                "c_id",
                as_double(F.col("c_vec")).alias("__v"),
                cos_clamped(
                    as_double(F.col("q_vec")), as_double(F.col("c_vec"))
                ).alias("cos_qc"),
            )
            pool = _rank_topk(scored, "cos_qc", pool_n, "q_id", "c_id", rank_col="rk")
            return mmr_rerank(pool, "__v", k, lam, 1.0 - lam)
        return brute_force_topk(queries, df, k=k)


def mmr_select(
    cand: DataFrame,
    pairs: DataFrame,
    k: int,
    lam: float,
    mu: float,
) -> DataFrame:
    """Greedy maximal-marginal-relevance selection as ONE Arrow
    cogroup-applyInPandas kernel over the per-query candidate pool.

    ``cand``: (q_id, c_id, cos_qc, rk) — rk 1 is the pure-relevance
    top candidate (ties already broken on c_id upstream). ``pairs``:
    (q_id, ca, cb, cos_cc) — pairwise candidate cosines. The kernel
    only COMPARES and linearly combines the Spark-computed cosine
    doubles (score = lam*cos_qc - mu*max_sim in float64 — the same two
    IEEE ops as the JVM/DuckDB expression on bit-identical inputs, and
    Arrow transfers doubles bit-exactly), so its picks match the
    unrolled-DataFrame formulation and the SQL oracle exactly; ties
    break on c_id ascending.

    Why a kernel: the unrolled 4-stage DataFrame algebra this replaces
    executed ~79 exchanges of <=132-row frames — k-bounded but ~1.5s of
    pure scheduling latency at any SF (measured sf0.1: 2.0-2.4s steady
    vs ~0.6s for the same pool through this kernel). The pool stays
    k-bounded, so per-group state is O(pool^2) doubles — trivial.
    """
    import pandas as pd

    def fn(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        left = left.sort_values("rk")
        qid = int(left.q_id.iloc[0])
        ids = [int(c) for c in left.c_id]
        rel = dict(zip(ids, (float(x) for x in left.cos_qc)))
        cc: dict[tuple[int, int], float] = {}
        for ca, cb, c in zip(right.ca, right.cb, right.cos_cc):
            cc[(int(ca), int(cb))] = float(c)
        sel = [ids[0]]
        scores = [lam * rel[ids[0]]]
        while len(sel) < k and len(sel) < len(ids):
            best = None
            for cid in ids:
                if cid in sel:
                    continue
                msim = max(cc[(cid, s)] for s in sel)
                score = lam * rel[cid] - mu * msim
                key = (score, -cid)
                if best is None or key > best[0]:
                    best = (key, cid, score)
            sel.append(best[1])
            scores.append(best[2])
        return pd.DataFrame(
            {
                "q_id": qid,
                "sel_rank": range(1, len(sel) + 1),
                "c_id": sel,
                "mmr": scores,
            }
        )

    return (
        cand.groupBy("q_id")
        .cogroup(pairs.groupBy("q_id"))
        .applyInPandas(fn, "q_id long, sel_rank int, c_id long, mmr double")
    )


def mmr_rerank(
    cand: DataFrame,
    vec_col: str,
    k: int,
    lam: float,
    mu: float,
    q_id: str = "q_id",
    c_id: str = "c_id",
) -> DataFrame:
    """MMR re-rank of a per-query candidate pool — the one tail every
    MMR variant shares. ``cand``: (q_id, c_id, vec_col, cos_qc, rk), the
    pool already cut (rk from :func:`_rank_topk`), ``vec_col`` a double
    array and ``cos_qc`` clamped. The pool is lineage-pinned (lazy
    localCheckpoint) so the pairwise self-join doesn't rescan what built
    it; the pairs' clamped cosines are pinned too; then
    :func:`mmr_select` picks ``k`` per query. Everything here is
    k-bounded: pool rows + pool^2 pair rows per query."""
    cand = cand.localCheckpoint(eager=False)
    pairs = (
        cand.select(q_id, F.col(c_id).alias("ca"), F.col(vec_col).alias("__av"))
        .join(
            cand.select(q_id, F.col(c_id).alias("cb"), F.col(vec_col).alias("__bv")),
            q_id,
        )
        .filter(F.col("ca") != F.col("cb"))
        .select(
            q_id, "ca", "cb",
            cos_clamped(F.col("__av"), F.col("__bv")).alias("cos_cc"),
        )
        # fresh attribute ids: the cogroup groups cand AND this
        # cand-derived frame on q_id (self-join-ambiguous while they
        # share lineage)
        .localCheckpoint(eager=False)
    )
    return mmr_select(
        cand.select(q_id, c_id, "cos_qc", "rk"), pairs, k=k, lam=lam, mu=mu
    )


@register_transform("semantic_decontam")
class SemanticDecontam(BaseTransform):
    """Drop rows whose embedding is a near-duplicate (cosine >=
    threshold) of ANY benchmark vector — the paraphrase-leak complement
    to the gram-hash ``decontaminate`` transform (catalog twin:
    ``semantic_decontam_stats``; see that query for the audited
    semantics).

    config:
      benchmark_path: PATH    # parquet with the benchmark vectors
      vec_col: embedding      # vector column on the input frame
      bench_vec_col: null     # benchmark's vector column (default vec_col)
      id_col: doc_id
      threshold: 0.999
      n_cells: 16             # shortlist path: IVF cells over the benchmark
      n_probe: 4              # shortlist path: cells probed per corpus row
      force_shortlist: false  # take the shortlist path regardless of size
      max_broadcast_bytes: null  # override the shared broadcast cap

    Scale: below the broadcast cap the benchmark is broadcast (eval
    sets are small by construction) and the corpus is scanned ONCE with
    per-row cost |bench|; the gate is an id anti-join. ABOVE the cap
    (or with ``force_shortlist``) the transform routes through the IVF
    shortlist instead of shuffling an all-pairs product (VERDICT r14
    ask #3): the benchmark is clustered into ``n_cells`` spherical-
    kmeans cells (``ivf_build_kmeans`` — distributed, centroids are
    k rows), each benchmark vector lands in its nearest cell, every
    corpus row probes its ``n_probe`` nearest cells, and exact cosine
    runs only inside the (cent_id) equi-join — per-row cost is the
    probed cells' benchmark mass, not |bench|, and nothing is ever
    broadcast except the k centroids. The shortlist is approximate by
    construction: an exactly-parallel leak (scaled copy) shares its
    source's nearest cell bit-for-bit so probe>=1 always catches it,
    while near-threshold paraphrases straddling a cell boundary rely
    on ``n_probe`` — the catalog twin
    ``semantic_decontam_shortlist_stats`` pins recall on injected
    leaks AND reports shortlist-vs-exact contamination side by side.
    """

    def validate(self, df: DataFrame) -> None:
        cfg = self.config
        if "benchmark_path" not in cfg:
            raise ValueError("semantic_decontam: config needs 'benchmark_path'")
        for key in (cfg.get("vec_col", "embedding"), cfg.get("id_col", "doc_id")):
            if key not in df.columns:
                raise ValueError(
                    f"semantic_decontam: column {key!r} not in input"
                )

    def transform(self, df: DataFrame) -> DataFrame:
        from etl_ml_pipeline_spark.sizing import BROADCAST_MAX_BYTES, path_bytes

        cfg = self.config
        vec_col = cfg.get("vec_col", "embedding")
        id_col = cfg.get("id_col", "doc_id")
        bench_vec = cfg.get("bench_vec_col") or vec_col
        thr = float(cfg.get("threshold", 0.999))
        path = str(cfg["benchmark_path"])
        cap = int(cfg.get("max_broadcast_bytes") or BROADCAST_MAX_BYTES)
        nbytes = path_bytes(path)
        over_cap = nbytes is None or nbytes > cap
        bench = df.sparkSession.read.parquet(path).select(
            as_double(F.col(bench_vec)).alias("__bv")
        )
        probes = df.select(
            F.col(id_col).alias("__sid"),
            as_double(F.col(vec_col)).alias("__cv"),
        )
        if over_cap or cfg.get("force_shortlist"):
            hits = self._shortlist_hits(bench, probes, thr)
        else:
            hits = (
                probes.crossJoin(F.broadcast(bench))
                .filter(cosine(F.col("__cv"), F.col("__bv")) >= thr)
                .select("__sid")
                .distinct()
            )
        return df.join(
            hits, F.col(id_col) == F.col("__sid"), "left_anti"
        )

    def _shortlist_hits(
        self, bench: DataFrame, probes: DataFrame, thr: float
    ) -> DataFrame:
        """IVF shortlist gate for over-cap benchmarks: exact cosine only
        inside the probed-cell equi-join (see class docstring)."""
        cfg = self.config
        n_cells = int(cfg.get("n_cells", 16))
        n_probe = int(cfg.get("n_probe", 4))
        # one count over the benchmark (cheap next to the kmeans build
        # that follows) so a tiny benchmark can't ask MLlib for more
        # clusters than it has rows
        n_cells = max(1, min(n_cells, bench.count()))
        centroids = ivf_build_kmeans(bench, vec_col="__bv", k=n_cells)
        # one quantizer collect shared by the assign and probe stages
        # (r15 §12 — each used to run its own driver-sync job)
        rows = collect_centroid_rows(centroids)
        bench_cells = ivf_assign(
            bench, centroids, "__bv", "__bv", rows=rows
        ).select("cent_id", "__bv")
        probed = _probe_exploded(probes, centroids, n_probe, "__sid", "__cv", rows=rows)
        return (
            probed.join(bench_cells, "cent_id")   # shuffle equi-join, no broadcast
            .filter(cosine(F.col("__cv"), F.col("__bv")) >= thr)
            .select("__sid")
            .distinct()
        )


def fold_cosine_max(
    df: DataFrame,
    bench_vecs: list[list[float]],
    vec_col: str,
    out_col: str,
    keep_cols: list[tuple[str, str]],
) -> DataFrame:
    """Per-row MAX cosine against a bounded in-memory benchmark block,
    as ONE vectorized Arrow kernel — bit-identical to the interpreted
    ``max(cosine(vec, bv))`` crossJoin+groupBy it replaces (r16, VERDICT
    r15 #3; guide §4.2: interpreted HOF lambdas never reach codegen and
    ran 80k x 64-dim sequential folds row-at-a-time in the decontam
    exact legs).

    Bit-parity is by construction, NOT by quantization (the declared
    results must stay identical): the JVM ``cosine`` is a sequential
    left fold ``((0.0 + a0*b0) + a1*b1) + ...`` divided by
    ``norm(a) * norm(b)``; the kernel accumulates per-dimension in
    float64 across the whole batch (``acc += A[:, j] * b[j]``) — the
    same IEEE adds/multiplies on the same operands in the same order
    per row, just vectorized across rows — and ``sqrt``/``/``/``*``
    are single correctly-rounded IEEE ops in both engines. max() is an
    exact selection; NaN propagates as Spark's NaN-greatest ordering
    would (np.maximum). Pinned by
    tests/test_similarity.py::test_fold_cosine_max_bit_identical.

    ``bench_vecs`` must be a BOUNDED block (benchmark suites, centroid
    sets — never a data-scaled side); it ships to each task as a
    closure, the same posture as :func:`collect_centroid_rows`. The
    input's ``keep_cols`` (name, spark-ddl-type) pass through untouched;
    one output row per input row (callers rely on the carried key being
    unique — the old groupBy(key) over the crossJoin was an identity
    grouping for unique keys). A NULL vector row gets a NULL cosine, as
    the fold gave.
    """
    dims = {len(v) for v in bench_vecs}
    if len(dims) != 1 or 0 in dims:
        raise ValueError(
            "fold_cosine_max: bench_vecs must be a non-empty list of "
            f"non-empty vectors of one length (got lengths {sorted(dims)})"
        )
    bench = np.asarray(bench_vecs, dtype=np.float64)
    nb = np.zeros(bench.shape[0], dtype=np.float64)
    for j in range(bench.shape[1]):
        nb = nb + bench[:, j] * bench[:, j]
    nb = np.sqrt(nb)
    schema = ", ".join(
        [f"{n} {t}" for n, t in keep_cols] + [f"{out_col} double"]
    )
    keep_names = [n for n, _t in keep_cols]
    d = bench.shape[1]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            present = pdf[vec_col].notna().to_numpy()
            out = pdf[keep_names].copy()
            out[out_col] = np.nan  # NaN leaves the Arrow kernel as NULL
            if not present.any():
                yield out
                continue
            a = np.stack(pdf[vec_col].to_numpy()[present])
            na = np.zeros(len(a), dtype=np.float64)
            for j in range(d):
                na = na + a[:, j] * a[:, j]
            na = np.sqrt(na)
            best = np.full(len(a), -np.inf, dtype=np.float64)
            for b_idx in range(bench.shape[0]):
                acc = np.zeros(len(a), dtype=np.float64)
                for j in range(d):
                    acc = acc + a[:, j] * bench[b_idx, j]
                best = np.maximum(best, acc / (na * nb[b_idx]))
            out.loc[present, out_col] = best
            yield out

    return df.select(*keep_names, vec_col).mapInPandas(gen, schema)


def collect_centroid_rows(
    centroids: DataFrame,
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> list:
    """The k-row coarse-quantizer collect, factored out so one query can
    pay it ONCE and feed every stage (assign, probe, index write/append)
    via the ``rows=`` / ``centroid_rows=`` pass-throughs. Each IVF stage
    used to run its own collect — a separate driver-sync Spark job that
    re-derives the centroid frame's lineage per stage (r15 §12). Within
    one query invocation this is ordinary subexpression reuse, not
    cross-run caching: every invocation still computes the rows from the
    parquet inputs."""
    return sorted(centroids.select(cent_id, cent_vec).collect(), key=lambda r: r[0])


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
    rows: list | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    The centroid table is tiny (k_coarse rows) and broadcasts; the argmin
    is a per-row window over the broadcast-join product — the classic
    IVF list-assignment as ONE map-side pass + a rank filter. At 100 TB
    the corpus never shuffles for assignment (broadcast join), only for
    the (cent_id)-keyed layout that downstream probes exploit.

    Distance = cosine (consistent with the query path); ties broken by
    lowest centroid id (np.argmax keeps the first max; centroids are
    sorted by id before the matmul).

    Implementation: the centroid matrix is tiny, so it ships to
    executors in the UDF closure and assignment is ONE numpy matmul per
    Arrow batch — a pure map (no join, no shuffle, no per-row lambda).
    This is the same vectorized-UDF pattern as the LSH bucket hash; the
    zip_with-cosine × centroid-count expression formulation measured
    >10× slower (interpreted higher-order lambdas per pair).
    """
    ids_list, mat_list = _unit_centroids(centroids, rows, cent_id, cent_vec)

    @F.pandas_udf("long")
    def nearest(vecs: pd.Series) -> pd.Series:
        v = np.vstack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        sims = v @ np.asarray(mat_list).T  # (batch, k)
        return pd.Series(np.asarray(ids_list)[np.argmax(sims, axis=1)])

    return df.withColumn(cent_id, nearest(F.col(vec_col)))


def _unit_centroids(
    centroids: DataFrame,
    rows: list | None,
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> tuple[list, list]:
    """The quantizer as UDF-closure lists: centroid ids ascending and the
    matching (k, dim) matrix with unit rows. Collects ``centroids`` only
    when the caller holds no ``rows``."""
    if rows is None:
        rows = collect_centroid_rows(centroids, cent_id, cent_vec)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    return [int(r[0]) for r in rows], mat.tolist()


def _probe_exploded(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    q_id: str,
    q_vec: str,
    rows: list | None = None,
) -> DataFrame:
    """Per-query probe list: one row per (query, probed cent_id) for the
    query's ``n_probe`` nearest centroids — same broadcast-matrix
    vectorized-UDF pattern as ivf_assign; n_probe=1 reproduces it."""
    ids_list, mat_list = _unit_centroids(centroids, rows)

    @F.pandas_udf("array<bigint>")
    def probe_list(vecs: pd.Series) -> pd.Series:
        cid = np.asarray(ids_list)
        v = np.vstack(vecs.to_numpy()).astype(np.float64)
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        sims = v @ np.asarray(mat_list).T  # (batch, k)
        # top n_probe by (sim desc, cent_id asc): argsort on (-sim) is
        # stable, and cid is pre-sorted ascending -> ties keep low ids
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([cid[row].tolist() for row in order])

    return queries.select(
        q_id, q_vec, F.explode(probe_list(F.col(q_vec))).alias("cent_id")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 1,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    centroid_rows: list | None = None,
) -> DataFrame:
    """IVF ANN: probe the query's ``n_probe`` nearest centroid lists,
    exact cosine rerank within those lists only.

    Complements the hyperplane-LSH path: IVF partitions by data-adaptive
    regions (any provided coarse quantizer — e.g. MLlib KMeans centers —
    works), LSH by fixed random planes. Candidate generation is an
    equi-join on cent_id — sub-linear scan per query at scale.

    ``centroid_rows``: pre-collected quantizer rows
    (collect_centroid_rows) — callers composing several IVF stages over
    the same centroids pass them once; default collects here (one job,
    shared by assign + probe instead of one each).
    """
    rows = (
        centroid_rows
        if centroid_rows is not None
        else collect_centroid_rows(centroids)
    )
    cb = ivf_assign(corpus, centroids, c_vec, c_id, rows=rows)
    return _ivf_serve(queries, centroids, cb, k, n_probe, q_id, q_vec, c_id, c_vec, rows)


def _ivf_serve(
    queries: DataFrame,
    centroids: DataFrame,
    lists: DataFrame,
    k: int,
    n_probe: int,
    q_id: str,
    q_vec: str,
    c_id: str,
    c_vec: str,
    rows: list | None,
) -> DataFrame:
    """The one IVF serve path over cent_id-keyed ``lists`` (in-plan
    ``ivf_assign`` output or a stored index): probe each query's
    ``n_probe`` nearest cells, broadcast-join the probe list on cent_id,
    exact cosine, per-query top-k."""
    qb = _probe_exploded(queries, centroids, n_probe, q_id, q_vec, rows=rows)
    cand = lists.join(F.broadcast(qb), "cent_id").withColumn(
        "cos", cosine(as_double(F.col(q_vec)), as_double(F.col(c_vec)))
    )
    return _rank_topk(cand, "cos", k, q_id, c_id).select(
        q_id, "rank", c_id, "cos", "cent_id"
    )


def sq8_quantize(vec: Column) -> Column:
    """Per-vector int8 scalar quantization (FAISS SQ8-style): codes =
    round((x - vmin) / ((vmax - vmin)/255)). 4x storage cut for float32
    embeddings — the difference between shipping 100 TB and 25 TB of
    vectors through an ANN build. Pure map-side expression: no shuffle,
    codegen-able, exact same double arithmetic in any engine (rounding
    via floor(x+0.5) = deterministic HALF_UP, no libm calls).

    Returns struct(codes: array<int>, vmin: double, vmax: double);
    dequantization is ``vmin + code * (vmax - vmin)/255``.

    vmin/vmax are let-bound (operators/hof.py) before the per-element
    transform references them — inlined, each element would re-run the
    O(d) array_min/array_max, turning the quantize O(d^2) per vector.
    """
    from etl_ml_pipeline_spark.operators.hof import let_bind

    def build(v: Column) -> Column:
        bounds = F.struct(
            F.array_min(v).alias("lo"), F.array_max(v).alias("hi")
        )

        def with_bounds(b: Column) -> Column:
            vmin, vmax = b["lo"], b["hi"]
            scale = (vmax - vmin) / 255.0
            codes = F.when(
                vmax > vmin,
                F.transform(
                    v, lambda x: F.floor((x - vmin) / scale + 0.5).cast("int")
                ),
            ).otherwise(F.transform(v, lambda x: F.lit(0)))
            return F.struct(
                codes.alias("codes"), vmin.alias("vmin"), vmax.alias("vmax")
            )

        return let_bind(bounds, with_bounds)

    return let_bind(F.transform(vec, lambda x: x.cast("double")), build)


def sq8_reconstruction_mae(vec: Column, q: Column) -> Column:
    """Mean absolute reconstruction error of an SQ8-quantized vector —
    the quality probe run alongside quantization. Sequential fold, same
    accumulation order as DuckDB list_sum."""
    v = F.transform(vec, lambda x: x.cast("double"))
    scale = (q["vmax"] - q["vmin"]) / 255.0
    abs_err = F.zip_with(
        v, q["codes"], lambda x, c: F.abs(x - (q["vmin"] + c * scale))
    )
    total = F.aggregate(abs_err, F.lit(0.0), lambda acc, e: acc + e)
    return total / F.size(v)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    out_col: str = "pq_codes",
) -> DataFrame:
    """Product-quantization encoding: split each vector into m
    subvectors, store only the index of the nearest codebook centroid
    per subspace -> m small ints replace dim floats (dim=64, m=8, k=16
    is a 32x storage cut vs float32). The compression step that makes a
    corpus-scale ANN index fit in memory; ADC scoring (pq_adc_topk)
    searches the codes without decompressing.

    ``codebooks``: [m][k][dsub] centroid table (from
    pq_codebooks_from_rows or a k-means trainer). Pure map-side pandas
    UDF; one numpy pass per Arrow batch.

    Cross-engine determinism: distances are computed naively
    ((x-c)^2 summed over the dsub axis) — for dsub <= 8 numpy's reduce
    is sequential, matching the SQL oracle's left-fold exactly, so
    argmin indices are bit-reproducible (same reasoning as the LSH
    sign-margin argument).
    """
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(cbs)
    dsub = cbs[0].shape[1]
    cb_lists = [cb.tolist() for cb in cbs]

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        codes = np.empty((len(mat), m), dtype=np.int64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]  # (batch, dsub)
            cb = np.asarray(cb_lists[j])  # (k, dsub)
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = np.argmin(d, axis=1)  # first min wins ties
        return pd.Series(list(codes))

    return df.withColumn(out_col, encode(F.col(vec_col)))


def pq_codebooks_from_rows(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    id_step: int = 37,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: the k lowest-id vectors with
    id % id_step == 0 donate their subvectors as centroids — the same
    data-deterministic quantizer trick the IVF oracle uses, so DuckDB
    can replay encoding exactly. Production: train per-subspace k-means
    (same pattern as ivf_build_kmeans) and pass its centers instead."""
    rows = (
        corpus.filter(F.col(id_col) % id_step == 0)
        .orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need {k} seed vectors, found {len(rows)}")
    vecs = np.asarray([r[0] for r in rows], dtype=np.float64)  # (k, dim)
    dim = vecs.shape[1]
    dsub = dim // m
    assert dsub * m == dim, "dim must divide evenly into m subspaces"
    return [
        vecs[:, j * dsub : (j + 1) * dsub].tolist() for j in range(m)
    ]


def _adc_lut_udf(codebooks: list[list[list[float]]]):
    """Pandas UDF building the per-query ADC lookup table: a flat
    (m * k_cent) array of squared subvector-to-centroid distances."""
    cbs = [np.asarray(cb, dtype=np.float64).tolist() for cb in codebooks]
    m = len(cbs)
    kcent = len(cbs[0])
    dsub = len(cbs[0][0])

    @F.pandas_udf("array<double>")
    def lut(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        out = np.empty((len(mat), m * kcent), dtype=np.float64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            cb = np.asarray(cbs[j])
            out[:, j * kcent : (j + 1) * kcent] = (
                (sub[:, None, :] - cb[None, :, :]) ** 2
            ).sum(axis=2)
        return pd.Series(list(out))

    return lut, m, kcent


def _adc_score(codes_col: str, lut_col: str, m: int, kcent: int) -> Column:
    """ADC distance = ordered sum of m LUT lookups (JVM codegen; the
    corpus side never touches a float vector)."""
    return F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.col(lut_col), j * kcent + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query build an
    (m x k) lookup table of squared distances from its subvectors to
    every centroid, then score a corpus row as the SUM of m table
    lookups — no corpus vector is ever touched.

    Scale shape: the LUT rides the (small) broadcast query side; the
    scoring expression is zip_with + element_at over the codes array —
    pure JVM codegen, so the corpus-side cost is m integer lookups per
    row, the whole point of PQ."""
    lut, m, kcent = _adc_lut_udf(codebooks)
    qlut = queries.select(q_id, F.col(q_vec).alias("__qv")).withColumn(
        "__lut", lut(F.col("__qv"))
    ).drop("__qv")
    scored = corpus_codes.crossJoin(F.broadcast(qlut)).withColumn(
        "adc", _adc_score(codes_col, "__lut", m, kcent)
    )
    return _rank_topk(scored, "adc", k, q_id, c_id, ascending=True).select(
        q_id, "rank", c_id, "adc"
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 1,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    centroid_rows: list | None = None,
) -> DataFrame:
    """IVF-PQ — the production large-scale ANN architecture (FAISS
    IVFADC shape, sans residual encoding): the coarse quantizer prunes
    the corpus to the probed inverted list(s), and PQ/ADC scores only
    those candidates from compressed codes.

    Composition of the two audited pieces: ``ivf_assign`` keys corpus
    AND queries by nearest centroid (broadcast matmul, pure map), then
    candidates come from a cent_id equi-join (sub-linear scan per
    query), scored via the broadcast ADC lookup table. At 100 TB the
    corpus exists only as (cent_id, id, m int8 codes) — the full-vector
    table is needed just at index-build and rerank time.

    ``centroid_rows``: see ivf_topk — one quantizer collect shared by
    the assign and probe stages.
    """
    rows = (
        centroid_rows
        if centroid_rows is not None
        else collect_centroid_rows(centroids)
    )
    coded = pq_encode(
        ivf_assign(corpus, centroids, c_vec, c_id, rows=rows), codebooks, c_vec
    ).select(c_id, "cent_id", "pq_codes")
    qassigned = _probe_exploded(queries, centroids, n_probe, q_id, q_vec, rows=rows)
    lut, m, kcent = _adc_lut_udf(codebooks)
    qlut = qassigned.withColumn("__lut", lut(F.col(q_vec))).select(
        q_id, "cent_id", "__lut"
    )
    scored = coded.join(F.broadcast(qlut), "cent_id").withColumn(
        "adc", _adc_score("pq_codes", "__lut", m, kcent)
    )
    return _rank_topk(scored, "adc", k, q_id, c_id, ascending=True).select(
        q_id, "rank", c_id, "adc", "cent_id"
    )


def ivf_build_kmeans(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Train the IVF coarse quantizer with distributed k-means (MLlib)
    instead of deterministic row selection — the production index-build
    path: Lloyd iterations run as Spark aggregations over the full
    corpus, so the build scales with the cluster, and the resulting
    (cent_id, cent_vec) table plugs straight into ivf_assign/ivf_topk.

    Vectors are L2-normalized BEFORE clustering so Euclidean k-means
    optimizes the same neighborhoods the cosine query path probes
    (spherical-kmeans approximation).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from etl_ml_pipeline_spark.operators.hof import let_bind

    # let-bind v and its norm: referencing the norm fold inside the
    # normalizing transform would re-run the O(d) fold per element.
    unit = let_bind(
        F.transform(vec_col, lambda x: x.cast("double")),
        lambda v: let_bind(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)),
            lambda nv: F.transform(v, lambda x: x / nv),
        ),
    )
    train = corpus.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(train)
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cent_id long, cent_vec array<double>",
    )


def ivfpq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_candidates: int = 50,
    n_probe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    centroid_rows: list | None = None,
) -> DataFrame:
    """IVF-PQ candidate generation + EXACT cosine re-ranking — the full
    production retrieval stack. Raw single-probe ADC over compressed
    codes is a coarse pruner (16-centroid codebooks land ~0.25 recall@5
    against exact cosine on this corpus, and one probed cell caps what
    rescoring can recover); multi-probing ``n_probe`` cells widens the
    candidate pool and rescoring its ``n_candidates`` survivors with
    true vectors recovers most of the loss — while still reading only
    |candidates| full vectors per query instead of the corpus. At
    100 TB, the full-vector fetch is a point-lookup join on the
    candidate ids, not a scan.
    """
    cands = ivfpq_topk(
        queries, corpus, centroids, codebooks,
        k=n_candidates, n_probe=n_probe,
        q_id=q_id, q_vec=q_vec, c_id=c_id, c_vec=c_vec,
        centroid_rows=centroid_rows,
    ).select(q_id, c_id)
    rescored = (
        cands.join(corpus, c_id)                       # point-lookup fetch
        .join(F.broadcast(queries), q_id)
        .withColumn("cos", cosine(as_double(F.col(q_vec)), as_double(F.col(c_vec))))
    )
    return _rank_topk(rescored, "cos", k, q_id, c_id).select(q_id, "rank", c_id, "cos")


def ivf_mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 4,
    pool: int = 12,
    n_candidates: int = 50,
    n_probe: int = 4,
    lam: float = 0.7,
    mu: float = 0.3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
) -> DataFrame:
    """The full production retrieval stack ending in diversification:
    IVF-PQ shortlist -> exact rescoring of the shortlist only -> greedy
    MMR re-rank (VERDICT r14 ask #2 — composition of the two audited
    pieces, ``ivfpq_topk`` and ``mmr_select``, replacing the exact
    full-corpus pool build of the standalone MMR query).

    Corpus-side cost is the IVF probe: the only corpus-wide work is ADC
    over compressed PQ codes within probed cells (cent_id equi-join);
    full vectors are read just for the ``n_candidates`` shortlist ids
    (a point-lookup join on c_id — no full-vector corpus scan, pinned
    by tests/test_plans.py: every join in the pool build is an
    equi-join, never a broadcast-nested-loop over the corpus). The
    shortlist is cut by ADC INCLUDING any self-match, then self is
    dropped before the exact-cosine pool ranking — the oracle mirrors
    that order exactly. Everything after the pool cut is k-bounded
    (``pool`` rows + pool^2 pair rows per query) regardless of corpus
    size; the greedy runs as the one Arrow cogroup kernel over
    lineage-pinned (lazily checkpointed) frames.

    ``mu`` is passed explicitly, never computed as ``1 - lam`` (Python
    1 - 0.7 = 0.30000000000000004 diverges from a SQL literal 0.3).
    """
    short = (
        ivfpq_topk(
            queries, corpus, centroids, codebooks,
            k=n_candidates, n_probe=n_probe,
            q_id=q_id, q_vec=q_vec, c_id=c_id, c_vec=c_vec,
        )
        .select(q_id, c_id)
        .filter(F.col(c_id) != F.col(q_id))
    )
    rescored = (
        short.join(corpus, c_id)                     # point-lookup fetch
        .join(F.broadcast(queries), q_id)
        .select(
            q_id,
            c_id,
            as_double(F.col(c_vec)).alias("__cv"),
            cos_clamped(
                as_double(F.col(q_vec)), as_double(F.col(c_vec))
            ).alias("cos_qc"),
        )
    )
    cand = _rank_topk(rescored, "cos_qc", pool, q_id, c_id, rank_col="rk")
    return mmr_rerank(cand, "__cv", k, lam, mu, q_id, c_id)
