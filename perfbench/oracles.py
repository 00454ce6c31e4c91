"""Expected sink outputs of the corpus pipelines, computed with DuckDB.

Each function returns the SQL for the rows a config's sink must hold,
over views ``documents`` and ``embeddings`` of the generated inputs. The
SQL is independent of the Spark operators: it reuses the DuckDB oracle
fragments of the query catalog (token split, stopword list, 60-bit doc
hash, the unrolled Lloyd rounds), which the catalog's differential tests
check against the same operators. ``expected`` runs them before Spark
starts; the benchmark compares each sink's ``oracle.value_hash`` with
these, so a wrong output fails on its first run in any workspace.

Every config below runs with the parameters its YAML file sets; a config
whose parameters drift from the ones written here fails ``check_params``
instead of silently comparing against the wrong oracle.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd

_NORM = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"


def _dedup_documents() -> str:
    return f"""
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY {_NORM})
"""


def _training_data_prep() -> str:
    from etl_ml_pipeline_spark.queries.pipeline_q import _HASH_DUCK
    from etl_ml_pipeline_spark.queries.text_q import _STOP_SQL_LIST, _TOKS_DUCK

    return f"""
WITH feats AS (
  SELECT doc_id, lang, source, text,
         len({_TOKS_DUCK}) AS n_tok,
         len(list_distinct({_TOKS_DUCK})) AS n_uniq,
         len(list_filter({_TOKS_DUCK}, tk -> tk IN ({_STOP_SQL_LIST}))) AS n_stop
  FROM documents
),
scored AS (
  SELECT doc_id, lang, source, text, n_tok,
         CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 0.4 ELSE 0.0 END
         + least(CAST(n_uniq AS DOUBLE) / n_tok, 0.5) * 0.6
         + CASE WHEN CAST(n_stop AS DOUBLE) / n_tok BETWEEN 0.01 AND 0.5
                THEN 0.2 ELSE 0.0 END AS quality
  FROM feats
),
gated AS (
  SELECT * FROM scored
  WHERE lang IN ('en', 'de', 'es', 'fr', 'zh') AND quality >= 0.4 AND n_tok >= 10
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY {_NORM} ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
)
SELECT doc_id, lang, source, text, n_tok AS n_tokens, quality FROM deduped
WHERE {_HASH_DUCK} % 100 < CASE WHEN lang = 'en' THEN 80 ELSE 50 END
"""


def _training_data_prep_v3() -> str:
    """pii_scrub is the identity on the generated corpus (no ``@``, no
    dotted quads) and the PSI gate compares the input with itself, so
    the output is segment dedup of the input, hash-sampled at 80%."""
    from etl_ml_pipeline_spark.queries.pipeline_q import _HASH_DUCK

    return f"""
WITH segs AS (
  SELECT doc_id, CAST(u.i AS INT) AS seg_idx,
         array_to_string(list_slice(string_split(text, ' '),
                                    u.i * 10 + 1, u.i * 10 + 10), ' ') AS seg
  FROM documents,
       UNNEST(range(CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT))) AS u(i)
),
ranked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n_segs
  FROM segs
)
SELECT doc_id, n_segs, count(*) AS n_kept,
       string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
FROM ranked
WHERE rn = 1 AND {_HASH_DUCK} % 100 < 80
GROUP BY doc_id, n_segs
"""


def _cluster_embeddings() -> str:
    """The catalog's unrolled Lloyd schedule (seed, two rounds, final
    assignment) with the per-vector assignment kept instead of the
    per-cluster summary."""
    from etl_ml_pipeline_spark.queries.ml_q import _KMEANS_SQL

    head = _KMEANS_SQL[: _KMEANS_SQL.index("\nSELECT a.cluster")]
    return head + """
SELECT v.vec_id, v.embedding, v.label, a.cluster, CAST(a.dist AS BIGINT) AS dist
FROM embeddings v JOIN af a USING (vec_id)
"""


ORACLES = {
    "dedup_documents": _dedup_documents,
    "training_data_prep": _training_data_prep,
    "training_data_prep_v3": _training_data_prep_v3,
    "cluster_embeddings": _cluster_embeddings,
}

# The transform parameters each oracle above is written for.
PARAMS = {
    "dedup_documents": [("dedup_exact", {"text_col": "text", "id_col": "doc_id"})],
    "training_data_prep": [
        ("text_analysis", {"text_col": "text", "columns": ["n_tokens", "quality", "fingerprint"]}),
        ("filter", {"where": "lang IN ('en', 'de', 'es', 'fr', 'zh') AND quality >= 0.4 AND n_tokens >= 10"}),
        ("dedup_exact", {"text_col": "text", "id_col": "doc_id"}),
        ("hash_sample", {"key_col": "doc_id", "rate_pct": 50, "strata": {"column": "lang", "rates": {"en": 80}}}),
        ("select", {"columns": ["doc_id", "lang", "source", "text", "n_tokens", "quality"]}),
    ],
    "training_data_prep_v3": [
        ("pii_scrub", {"text_col": "text"}),
        ("psi_gate", None),  # reference_path is set to the input itself
        ("dedup_segments", {"text_col": "text", "id_col": "doc_id", "seg_words": 10}),
        ("hash_sample", {"key_col": "doc_id", "rate_pct": 80}),
    ],
    "cluster_embeddings": [
        ("kmeans_cluster", {"vec_col": "embedding", "id_col": "vec_id", "k": 8, "iters": 2}),
    ],
}


def check_params(name: str, transforms: list[dict]) -> None:
    """Raise if ``name``'s transforms are not the ones its oracle models."""
    got = [(t["type"], t.get("config")) for t in transforms]
    want = PARAMS[name]
    same = len(got) == len(want) and all(
        g[0] == w[0] and (w[1] is None or g[1] == w[1]) for g, w in zip(got, want)
    )
    if not same:
        raise ValueError(f"{name}: transforms {got} differ from the oracle's {want}")


def plain_cells(pdf: pd.DataFrame) -> pd.DataFrame:
    """Categorical columns as strings and array cells as lists, the
    forms ``oracle.value_hash`` canonicalizes."""
    for col in pdf.columns:
        if str(pdf[col].dtype) == "category":
            pdf[col] = pdf[col].astype(str)
        elif pdf[col].dtype == object and len(pdf) and hasattr(pdf[col].iloc[0], "tolist"):
            pdf[col] = pdf[col].map(lambda a: None if a is None else a.tolist())
    return pdf


def expected(name: str, inputs: Path) -> pd.DataFrame:
    """The rows config ``name``'s sink must hold for the inputs in ``inputs``."""
    import duckdb

    with duckdb.connect() as con:
        for table in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{inputs / table}.parquet')"
            )
        return plain_cells(con.sql(ORACLES[name]()).df())
