"""Seeded input generators. Sizes are fixed; the seed changes only the
values, so every seed gives the same amount of work."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FLAGS = np.array(["A", "N", "R"])
FLAG_P = [0.25, 0.5, 0.25]  # TPC-H l_returnflag shares

# sf0.1 lineitem: 600k rows over orderkeys 1..600k
LINEITEM_ROWS = 600_000
MAX_ORDERKEY = 600_000


def lineitem_columns(rng: np.random.Generator, n: int, sort: bool) -> dict[str, np.ndarray]:
    """A 4-column lineitem projection. Quantities are whole numbers held
    as doubles, so sums are exact in any order."""
    key = rng.integers(1, MAX_ORDERKEY + 1, n, dtype=np.int64)
    if sort:
        key.sort()
    return {
        "l_orderkey": key,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_returnflag": rng.choice(FLAGS, n, p=FLAG_P),
    }


def write_parquet(cols: dict[str, np.ndarray], path: str) -> None:
    pq.write_table(pa.table(cols), path)


# -- documents -----------------------------------------------------------

# the word list and length range of the sf* documents table
VOCAB = np.array(
    (
        "a agg batch big column customer data fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
)


def document_shard(
    rng: np.random.Generator,
    n_docs: int,
    exact_share: float = 0.1,
    near_share: float = 0.2,
    drop_rate: float = 0.05,
) -> dict[str, np.ndarray]:
    """Originals plus perturbed copies: exact copies (some re-cased, so
    only a lower-cased comparison finds them) and near copies with
    ``drop_rate`` of their words dropped. Ids are shuffled."""
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    docs: list[list[str]] = []
    for _ in range(n_orig):
        docs.append(list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    for _ in range(n_exact):
        words = list(docs[int(rng.integers(0, n_orig))])
        if rng.random() < 0.5:
            words[0] = words[0].upper()
        docs.append(words)
    for _ in range(n_near):
        src = docs[int(rng.integers(0, n_orig))]
        keep = rng.random(len(src)) >= drop_rate
        docs.append([w for w, k in zip(src, keep) if k] or src[:1])
    order = rng.permutation(n_docs)
    texts = [" ".join(docs[j]) for j in order]
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.full(n_docs, "en"),
        "source": np.array([f"src{j % 4}" for j in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_shard(cols: dict[str, np.ndarray], shard_dir: str) -> None:
    os.makedirs(shard_dir, exist_ok=True)
    write_parquet(cols, f"{shard_dir}/documents.parquet")
