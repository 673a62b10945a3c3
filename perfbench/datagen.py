"""Seeded benchmark inputs, written as one parquet file per table.

The tables follow the schemas of the engine's catalog (``lineitem``,
``documents``, ``embeddings``) so the public loaders read them unchanged.
Everything derives from ``seed``: the same seed writes the same bytes.

``scale`` follows the catalog's scale-factor convention: 0.1 gives
600,000 lineitem rows, 5,000 documents and 2,000 embeddings; 0.001
(the smoke mode) gives 6,000, 500 and 500.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Class shares of l_returnflag.  Skewed on purpose: with uniform classes
# the class-balanced sampler would have nothing to rebalance.
RETURNFLAG_SHARES = {"N": 0.5, "A": 0.3, "R": 0.2}

WORDS = (
    "spark arrow batch fetch block shuffle plan query table column row "
    "scan filter join group sort merge hash window stream value key part "
    "order line data vector index cache task stage job driver worker "
    "epoch seed sample weight label class token corpus dedup shingle band "
    "signature component cluster embedding cosine topk bucket partition "
    "file parquet record schema"
).split()


@dataclass
class Corpus:
    """Ground truth planted in the ``documents`` table."""

    exact_groups: list[list[int]] = field(default_factory=list)
    near_pairs: set[tuple[int, int]] = field(default_factory=set)


def sizes(scale: float) -> dict[str, int]:
    return {
        "lineitem": int(round(6_000_000 * scale)),
        "documents": max(500, int(round(50_000 * scale))),
        "embeddings": max(500, int(round(20_000 * scale))),
    }


def write_lineitem(path: str, n: int, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    # 1-7 lines per order, numbered 1..k inside the order: the catalog's
    # row_id key (l_orderkey, l_linenumber, l_extendedprice) is unique
    lines = rng.integers(1, 8, size=n)  # more orders than needed; cut at n rows
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)[:n]
    starts = np.concatenate(([0], np.cumsum(lines)[:-1]))
    lnum = (np.arange(len(okey)) - np.repeat(starts, lines)[:n] + 1).astype(np.int32)
    flags = np.array(list(RETURNFLAG_SHARES))
    flag = flags[
        np.searchsorted(np.cumsum(list(RETURNFLAG_SHARES.values())), rng.random(n), side="right")
    ]
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2)
    ship = np.datetime64("1992-01-01", "us") + rng.integers(0, 2500, size=n).astype(
        "timedelta64[D]"
    )
    perm = rng.permutation(n)  # the catalog's ingest, not the file, sorts by key
    table = pa.table(
        {
            "l_orderkey": okey[perm],
            "l_partkey": rng.integers(1, 20_000, size=n)[perm],
            "l_suppkey": rng.integers(1, 1_000, size=n)[perm],
            "l_linenumber": lnum[perm],
            "l_quantity": qty[perm],
            "l_extendedprice": price[perm],
            "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2)[perm],
            "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2)[perm],
            "l_returnflag": flag[perm],
            "l_linestatus": np.where(rng.random(n) < 0.5, "O", "F")[perm],
            "l_shipdate": pa.array(ship[perm], type=pa.timestamp("us")),
        }
    )
    pq.write_table(table, path)


def write_documents(path: str, n: int, seed: int) -> Corpus:
    """``n`` documents: 80 % random base texts, 8 % exact copies of a
    base text, 8 % near copies (one or two words replaced) and 4 %
    repetitive spam that the quality gate should drop.  A base text has
    either exact copies or one near copy, never both, so each planted
    near pair can be found after exact dedup."""
    rng = np.random.default_rng([seed, 2])
    n_exact, n_near, n_spam = n * 8 // 100, n * 8 // 100, n * 4 // 100
    n_base = n - n_exact - n_near - n_spam
    words = np.array(WORDS)
    texts: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(words[rng.integers(0, len(words), size=rng.integers(20, 81))]))
    base_ids = rng.permutation(n_base)
    near_src = base_ids[:n_near]
    exact_src = rng.choice(base_ids[n_near:], size=n_exact, replace=True)
    origin: list[tuple[str, int]] = []  # (kind, source index) per planted row
    for src in exact_src:
        texts.append(texts[src])
        origin.append(("exact", int(src)))
    for src in near_src:
        toks = texts[src].split(" ")
        for i in rng.choice(len(toks), size=int(rng.integers(1, 3)), replace=False):
            toks[i] = f"{toks[i]}x"  # a word outside the vocabulary
        texts.append(" ".join(toks))
        origin.append(("near", int(src)))
    for _ in range(n_spam):
        w = words[rng.integers(0, len(words), size=2)]
        texts.append(" ".join([w[0], w[1]] * int(rng.integers(10, 30))))
        origin.append(("spam", -1))
    # doc_ids are a random permutation, so a copy may get a lower id
    # than its source
    doc_id = rng.permutation(n).astype(np.int64)
    corpus = Corpus()
    groups: dict[int, list[int]] = {}
    for k, (kind, src) in enumerate(origin):
        row = n_base + k
        if kind == "exact":
            groups.setdefault(src, [int(doc_id[src])]).append(int(doc_id[row]))
        elif kind == "near":
            a, b = int(doc_id[src]), int(doc_id[row])
            corpus.near_pairs.add((min(a, b), max(a, b)))
    corpus.exact_groups = [sorted(g) for g in groups.values()]
    langs = np.array(["en", "de", "fr", "es", "zh"])
    table = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(table.take(np.argsort(doc_id)), path)
    return corpus


def write_embeddings(path: str, n: int, seed: int, dim: int = 64) -> None:
    rng = np.random.default_rng([seed, 3])
    vecs = rng.normal(0.0, 0.15, size=(n, dim)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, size=n).astype(np.int32),
        }
    )
    pq.write_table(table, path)


def write_inputs(out_dir: str, tables: tuple[str, ...], seed: int, scale: float) -> Corpus | None:
    """Write the named tables into ``out_dir``; returns the planted
    corpus truth when ``documents`` is among them."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    corpus = None
    for name in tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "lineitem":
            write_lineitem(path, n[name], seed)
        elif name == "documents":
            corpus = write_documents(path, n[name], seed)
        elif name == "embeddings":
            write_embeddings(path, n[name], seed)
        else:
            raise ValueError(f"no generator for table {name!r}")
    return corpus
