"""Value shapes of a directory of benchmark tables.

    python3 perfbench/shapes.py <table dir> [<table dir> ...]

Prints one JSON object per directory with the statistics the workloads'
costs depend on: row counts, text length and vocabulary, the share of
rows exact and segment dedup keep, language mix, embedding geometry,
event and order fan-out. Run it on the repository's sf0.1 test tables
and on the generated inputs to compare the generator with the data the
workload sizes were first measured on. Only tables present in a
directory are described.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import numpy as np
import pandas as pd


def _q(values) -> dict[str, float]:
    p = np.percentile(np.asarray(values, dtype=float), [0, 25, 50, 75, 100])
    return {k: round(float(v), 3) for k, v in zip(("min", "p25", "p50", "p75", "max"), p)}


def documents(pdf: pd.DataFrame) -> dict:
    words = pdf["text"].str.split(" ")
    norm = pdf["text"].str.strip().str.replace(r"\s+", " ", regex=True).str.lower()
    segs = set()
    kept = total = 0
    for doc in words.loc[pdf["doc_id"].sort_values().index]:
        for i in range(0, len(doc), 10):
            seg = " ".join(doc[i : i + 10])
            total += 1
            if seg not in segs:
                segs.add(seg)
                kept += 1
    vocab = pd.Series([w for ws in words for w in ws]).value_counts()
    return {
        "rows": len(pdf),
        "words_per_text": _q(words.str.len()),
        "chars_per_text": _q(pdf["text"].str.len()),
        "distinct_words": len(vocab),
        "top30_word_share": round(float(vocab.head(30).sum() / vocab.sum()), 4),
        "exact_dedup_survivor_share": round(norm.nunique() / len(pdf), 4),
        "segment_dedup_kept_share": round(kept / total, 4),
        "lang_share": {k: round(v, 3) for k, v in pdf["lang"].value_counts(normalize=True).sort_index().items()},
        "sources": int(pdf["source"].nunique()),
    }


def embeddings(pdf: pd.DataFrame) -> dict:
    v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    labels = pdf["label"].to_numpy()
    n = min(len(v), 2000)
    sims = v[:n] @ v[:n].T
    same = labels[:n, None] == labels[None, :n]
    off = ~np.eye(n, dtype=bool)
    return {
        "rows": len(pdf),
        "dim": int(v.shape[1]),
        "norm": _q(np.linalg.norm(v, axis=1)),
        "labels": int(len(np.unique(labels))),
        "cosine_same_label": round(float(sims[same & off].mean()), 4),
        "cosine_other_label": round(float(sims[~same].mean()), 4),
    }


def events(pdf: pd.DataFrame) -> dict:
    span = (pdf["ts"].max() - pdf["ts"].min()).total_seconds() / 86_400
    props = pdf["props"].head(1000).map(lambda s: re.sub(r"\d+", "N", s)).value_counts()
    return {
        "rows": len(pdf),
        "users": int(pdf["user_id"].nunique()),
        "days": round(span, 2),
        "event_type_share": {k: round(v, 3) for k, v in pdf["event_type"].value_counts(normalize=True).sort_index().items()},
        "value": _q(pdf["value"]),
        "props_forms": props.to_dict(),
    }


def orders(pdf: pd.DataFrame) -> dict:
    return {
        "rows": len(pdf),
        "orders_per_customer": round(len(pdf) / pdf["o_custkey"].nunique(), 3),
        "totalprice": _q(pdf["o_totalprice"]),
        "days": int((pdf["o_orderdate"].max() - pdf["o_orderdate"].min()).days),
        "status_share": {k: round(v, 3) for k, v in pdf["o_orderstatus"].value_counts(normalize=True).sort_index().items()},
    }


def lineitem(pdf: pd.DataFrame) -> dict:
    per = pdf.groupby("l_orderkey").size()
    return {"rows": len(pdf), "lines_per_order": _q(per), "quantity": _q(pdf["l_quantity"])}


DESCRIBE = {"documents": documents, "embeddings": embeddings, "events": events,
            "orders": orders, "lineitem": lineitem}


def describe(root: Path) -> dict:
    out = {}
    for name, fn in DESCRIBE.items():
        path = root / f"{name}.parquet"
        if path.exists():
            out[name] = fn(pd.read_parquet(path))
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for arg in sys.argv[1:]:
        print(json.dumps({"dir": Path(arg).name, **describe(Path(arg))}))
