"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng(seed)`` with the
schemas and value shapes of the repository's synthetic TPC-H-style sf0.1
test tables (region/nation/customer/supplier/part/orders/lineitem plus
the events, documents and embeddings tables), so the catalog queries and
the pipeline configs run on them unchanged. Those tables are not part of
the repository, so the benchmark cannot read them; ``shapes.py`` prints
the statistics the two are compared on, and ``shapes.jsonl`` holds that
comparison. Sizes are fixed per workload in ``spec.json``; the seed
chooses values and row order only, so work per pass does not depend on
the seed.

Generation runs before the SparkSession starts and is never timed.
The same seed writes byte-identical parquet files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = np.array(["large", "hot", "blue", "old", "cold", "red", "new", "small"])
PART_NOUN = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _ts(epoch: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(epoch + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _permute(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def region() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )


def nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )


def supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def part(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n)
    names = np.char.add(np.char.add(rng.choice(PART_ADJ, n), " "), rng.choice(PART_NOUN, n))
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": rng.choice(STATUSES, n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(_ORDER_EPOCH, rng.integers(0, 2405, n) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def lineitem(rng: np.random.Generator, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    per_order = np.clip(rng.binomial(12, 1 / 3, n_orders), 1, None)
    okeys = np.repeat(np.arange(n_orders), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": _ts(_ORDER_EPOCH, rng.integers(1, 2500, n) * _DAY_US),
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(_EVENT_EPOCH, offsets),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random 10-100 word texts over ``VOCAB``; 5% are an earlier text
    plus a trailing ``dup`` token (near duplicates) and 0.2% are exact
    copies of an earlier text, so the dedup operators have work to do."""
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return texts


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in random directions with labels drawn apart from
    them: the sf0.1 test table has no label structure (mean cosine 0.0
    within a label and across labels)."""
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
        }
    )


def _replicate(rng: np.random.Generator, base: pa.Table, key: str, replicas: int) -> pa.Table:
    """Key-shifted replication (the scheme of ``scripts/make_sf1.py``):
    replica r shifts ``key`` by r * (max key + 1); a text column gets a
    seed-chosen suffix token per replica r > 0 so replicas are not exact
    duplicates of the base rows."""
    stride = int(pc.max(base[key]).as_py()) + 1
    parts = []
    for r in range(replicas):
        cols = {c: base[c] for c in base.column_names}
        cols[key] = pc.add(base[key], r * stride)
        if r > 0 and "text" in cols:
            token = f"r{rng.integers(0, 1 << 30):x}"
            texts = [f"{t} {token}" for t in base["text"].to_pylist()]
            cols["text"] = pa.array(texts)
            cols["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def write_catalog_tables(seed: int, out: Path, sizes: dict[str, int]) -> None:
    """All ten catalog tables, each one parquet file with rows in a
    seeded permutation."""
    rng = np.random.default_rng(seed)
    tables = {
        "region": region(),
        "nation": nation(),
        "customer": customer(rng, sizes["customer"]),
        "supplier": supplier(rng, sizes["supplier"]),
        "part": part(rng, sizes["part"]),
        "orders": orders(rng, sizes["orders"], sizes["customer"]),
        "lineitem": lineitem(rng, sizes["orders"], sizes["part"], sizes["supplier"]),
        "events": events(rng, sizes["events"], max(1, sizes["customer"] // 10)),
        "documents": documents(rng, sizes["documents"]),
        "embeddings": embeddings(rng, sizes["embeddings"]),
    }
    for name, table in tables.items():
        _write(_permute(rng, table), out / f"{name}.parquet")


def write_corpus(seed: int, out: Path, sizes: dict[str, int]) -> dict[str, int]:
    """``documents`` and ``embeddings`` as ``replicas``-fold key-shifted
    replicas of seeded base tables, rows in a seeded order. Returns the
    row count of each file."""
    rng = np.random.default_rng(seed)
    reps = sizes["replicas"]
    docs = _replicate(rng, documents(rng, sizes["documents"] // reps), "doc_id", reps)
    vecs = _replicate(rng, embeddings(rng, sizes["embeddings"] // reps), "vec_id", reps)
    _write(_permute(rng, docs), out / "documents.parquet")
    _write(_permute(rng, vecs), out / "embeddings.parquet")
    return {"documents": docs.num_rows, "embeddings": vecs.num_rows}


def upsert_batches(seed: int, n_batches: int, new_per_batch: int, reemit_share: float) -> list[pd.DataFrame]:
    """Landing batches for the incremental upsert loop.

    Batch k (1-based) holds ``new_per_batch`` orders not seen before,
    taken in a seeded permutation, plus ``reemit_share`` as many keys
    re-emitted from earlier batches with a changed ``o_totalprice``.
    Every row carries ``batch_seq = k``; keys are unique within a batch.
    """
    rng = np.random.default_rng(seed)
    n = n_batches * new_per_batch
    base = _permute(rng, orders(rng, n, max(1, n // 10))).to_pandas()
    n_re = int(round(new_per_batch * reemit_share))
    batches = []
    for k in range(1, n_batches + 1):
        new = base.iloc[(k - 1) * new_per_batch : k * new_per_batch]
        seen = base.iloc[: (k - 1) * new_per_batch]
        if len(seen):
            pick = rng.choice(len(seen), min(n_re, len(seen)), replace=False)
            again = seen.iloc[np.sort(pick)].copy()
            again["o_totalprice"] = np.round(
                again["o_totalprice"] + rng.integers(1, 100_000, len(again)) / 100.0, 2
            )
            batch = pd.concat([new, again], ignore_index=True)
        else:
            batch = new.reset_index(drop=True)
        batch["batch_seq"] = np.int64(k)
        batches.append(batch)
    return batches


def write_batch(batch: pd.DataFrame, path: Path) -> None:
    _write(pa.Table.from_pandas(batch, preserve_index=False), path)


def expected_upsert(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """The table an upsert on ``o_orderkey`` must hold after every batch
    landed: the row from the latest batch for each key, sorted by key."""
    rows = pd.concat(batches, ignore_index=True)
    last = rows.sort_values(["o_orderkey", "batch_seq"]).drop_duplicates("o_orderkey", keep="last")
    return last.reset_index(drop=True)
