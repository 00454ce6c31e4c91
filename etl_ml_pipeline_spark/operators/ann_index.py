"""Persistent IVF index: build once, serve and grow across runs.

The missing piece between the in-plan ANN queries (similarity.py builds
its index inside each query's lineage) and a production retrieval
deployment: the coarse quantizer and the inverted lists are TABLES.
Build writes them; serve reads them (no corpus re-assignment); append
assigns only the NEW vectors against the stored centroids — the
standard incremental-indexing contract (FAISS `add` semantics: the
quantizer is frozen after build; re-train is an explicit rebuild).

Reference scope: the reference pipeline has no vector search at all —
this extends the mandated LLM-data surface (its nearest analogue is the
incremental-cursor state in `/root/reference/src/data_extractor/
pipeline.py`, the same build-once-grow-forever posture applied here to
an index instead of an extraction watermark).

Layout under ``path``:

* ``centroids/`` — (cent_id long, cent_vec array<double>), k rows;
* ``lists/`` — the assigned corpus, **partitioned by cent_id**, so a
  probe that touches p of k lists is a PARTITION-PRUNED read (the
  directory layout IS the inverted index; at 100 TB a 2-probe query
  reads 2/k of the corpus bytes, no shuffle).

Scale posture: build pays one broadcast-argmin map over the corpus plus
the partitioned write (one shuffle on cent_id to co-locate lists);
append pays the same over only the delta; serve is a broadcast join of
the exploded probe list against the lists table — never a corpus scan
per query. All driver syncs are k-row centroid collects inside
ivf_assign/_probe_exploded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.similarity import _ivf_serve, ivf_assign


def ivf_index_write(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    centroid_rows: list | None = None,
) -> None:
    """Build + persist the index: assign every corpus vector to its
    nearest centroid and write centroids + cent_id-partitioned lists.

    ``centroid_rows``: pre-collected quantizer rows
    (similarity.collect_centroid_rows) — lifecycle queries that also
    append/serve against the same centroids pass them once instead of
    re-collecting per stage (r15 §12)."""
    centroids.select("cent_id", "cent_vec").write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    assigned = ivf_assign(corpus, centroids, c_vec, c_id, rows=centroid_rows)
    assigned.select(c_id, c_vec, "cent_id").write.mode("overwrite").partitionBy(
        "cent_id"
    ).parquet(f"{path}/lists")


def ivf_index_append(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    centroid_rows: list | None = None,
) -> None:
    """Grow the index without re-clustering: assign only the new vectors
    against the STORED centroids and append their list rows. Quantizer
    drift is the caller's rebuild decision (FAISS add semantics); the
    serve path is oblivious to which run wrote a row — pinned by
    ann_ivf_incremental_topk's oracle, which replays build+append as one
    full-corpus assignment.

    ``centroid_rows``: the quantizer rows, if the caller already holds
    them (e.g. it just built the index in the same run) — skips the
    stored-centroids read + collect. Doubles round-trip parquet
    bit-exactly, so passing the build-time rows is identical to reading
    them back; the stored table stays the default (and the contract —
    the quantizer is FROZEN at build time)."""
    if centroid_rows is not None:
        assigned = ivf_assign(new_vectors, None, c_vec, c_id, rows=centroid_rows)
        assigned.select(c_id, c_vec, "cent_id").write.mode("append").partitionBy(
            "cent_id"
        ).parquet(f"{path}/lists")
        return
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = ivf_assign(new_vectors, centroids, c_vec, c_id)
    assigned.select(c_id, c_vec, "cent_id").write.mode("append").partitionBy(
        "cent_id"
    ).parquet(f"{path}/lists")


def ivf_index_read(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, lists). cent_id comes back as a partition column —
    re-cast to long so downstream joins keep the build-side type."""
    centroids = spark.read.parquet(f"{path}/centroids")
    lists = spark.read.parquet(f"{path}/lists").withColumn(
        "cent_id", F.col("cent_id").cast("long")
    )
    return centroids, lists


def ivf_index_delete(ids: DataFrame, path: str, c_id: str = "c_id") -> None:
    """LOGICAL erasure: append the ids to the index's tombstone table.

    The privacy-deletion story at scale (the index twin of the batch
    ``privacy_erasure_audit`` query): a delete request must take effect
    immediately without rewriting petabyte-scale inverted lists, so the
    delete is an O(delta) append of ids and the serve path anti-joins
    tombstones (``ivf_topk_from_index(tombstones=...)``). Physical
    removal of the vector bytes is :func:`ivf_index_vacuum` — the
    deferred rewrite, exactly Delta/Iceberg delete-vector semantics.
    Deleting an id not in the index is a harmless no-op tombstone.

    Constraint: tombstones are ID-level, so RE-INSERTING a deleted id
    (an update) requires :func:`ivf_index_vacuum` between the delete
    and the append — otherwise the tombstone suppresses the new row
    too. The update sequence delete -> vacuum -> append is pinned by
    ``ann_ivf_update_topk``'s oracle (update == rebuild on the
    modified corpus)."""
    ids.select(c_id).distinct().write.mode("append").parquet(f"{path}/tombstones")


def ivf_index_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The index's live tombstone table, or None when nothing is
    logically deleted (also after a vacuum, which clears it)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
    if not p.getFileSystem(conf).exists(p):
        return None
    return spark.read.parquet(f"{path}/tombstones")


def ivf_index_vacuum(spark: SparkSession, path: str, c_id: str = "c_id") -> dict:
    """PHYSICAL erasure: rewrite the inverted lists without the
    tombstoned ids, then drop the tombstone table.

    The GDPR-grade completion of :func:`ivf_index_delete` — after
    vacuum the deleted vectors' bytes are gone from storage, not just
    filtered at serve time. One anti-join + one cent_id-partitioned
    rewrite (the same write shape as build); the swap reuses the
    compaction rename dance + crash recovery from streaming/
    dedup_index (entry self-heals a previous mid-swap death). Safe
    ordering: tombstones are deleted only AFTER the swap, so a crash
    between swap and tombstone-drop just re-applies an empty anti-join
    on the next vacuum — serve correctness never regresses.

    Refuses (ValueError, storage untouched) when every row is
    tombstoned — see the inline note.

    Returns {rows_before, rows_deleted, rows_after}."""
    from etl_ml_pipeline_spark.streaming.dedup_index import (
        restore_interrupted_compaction,
        swap_in_rewrite,
    )

    lists_path = f"{path}/lists"
    restore_interrupted_compaction(spark, lists_path)
    tombs = ivf_index_tombstones(spark, path)
    lists = spark.read.parquet(lists_path)
    rows_before = lists.count()
    if tombs is None:
        return {"rows_before": rows_before, "rows_deleted": 0, "rows_after": rows_before}
    kept = lists.join(
        F.broadcast(tombs.select(F.col(c_id).cast("long").alias(c_id))),
        c_id,
        "left_anti",
    )
    # ADVICE r11 #2: an all-tombstoned index must NOT be vacuumed into
    # an empty partitioned directory — partitionBy writes zero part
    # files for zero rows, so the post-swap read can't infer a schema
    # and every later serve breaks AFTER the live lists were already
    # swapped away. Refuse before touching storage: serve correctness
    # is unaffected (tombstones still filter at read time), and
    # erasing an entire index is an explicit drop/rebuild, not a
    # vacuum.
    kept_rows = kept.count()
    if kept_rows == 0:
        raise ValueError(
            "ivf_index_vacuum: every row is tombstoned — vacuuming to an "
            "empty index would leave an unreadable lists directory; drop "
            "and rebuild the index instead (tombstones keep filtering "
            "deleted ids at serve time meanwhile)"
        )
    kept.write.mode("overwrite").partitionBy("cent_id").parquet(
        lists_path + ".__compact_tmp"
    )
    swap_in_rewrite(spark, lists_path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    tp = jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
    tp.getFileSystem(conf).delete(tp, True)
    # r15 optimization: rows_after == kept_rows by construction (the
    # swap publishes exactly the frame counted above), so the post-swap
    # read-back count was a third full pass over the lists — dropped.
    return {
        "rows_before": rows_before,
        "rows_deleted": rows_before - kept_rows,
        "rows_after": kept_rows,
    }


def ivf_topk_from_index(
    queries: DataFrame,
    centroids: DataFrame,
    lists: DataFrame,
    k: int = 5,
    n_probe: int = 1,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    tombstones: DataFrame | None = None,
    centroid_rows: list | None = None,
) -> DataFrame:
    """Serve top-k from a stored index: probe the query's n_probe
    nearest centroids, equi-join the probed lists, exact cosine rerank —
    similarity.ivf_topk's serve path over the stored lists, which
    already carry cent_id.

    ``tombstones`` (from :func:`ivf_index_tombstones`): logically
    deleted ids, excluded via a broadcast anti-join BEFORE the
    candidate join — map-side, no extra shuffle, and a deleted vector
    can never appear in results even before a vacuum rewrites the
    lists.

    ``centroid_rows``: pre-collected quantizer rows (see
    ivf_index_write) — skips this stage's probe collect."""
    if tombstones is not None:
        lists = lists.join(
            F.broadcast(tombstones.select(F.col(c_id).cast("long").alias(c_id))),
            c_id,
            "left_anti",
        )
    return _ivf_serve(
        queries, centroids, lists, k, n_probe, q_id, q_vec, c_id, c_vec, centroid_rows
    )
