"""Seeded input generators for the benchmark workloads.

The seed drives only the generated inputs: which fixture hosts seed the
crawl, the uid offset and prices of the synthetic frontier, and the text,
row order and planted duplicates of the corpus. The same seed always
gives byte-identical inputs.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Same 30-word vocabulary (plus the near-duplicate marker) as the
# `documents` test tables the corpus oracle queries run on.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def write_orders(path: str, n_orders: int, seed: int) -> None:
    """`orders.parquet` with the columns `bench.synth_frontier` reads
    (o_orderkey, o_custkey, o_totalprice). Prices are distinct, so the
    frontier's priority order has no ties."""
    rng = random.Random(seed)
    cents = rng.sample(range(100_000, 50_000_000), n_orders)
    table = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(
                [rng.randrange(1, 15_000) for _ in range(n_orders)], pa.int64()
            ),
            "o_totalprice": pa.array([c / 100.0 for c in cents], pa.float64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "orders.parquet"))


def frontier_uid_offset(seed: int) -> int:
    """Shift of the synthetic frontier's uid space (and so of its host
    assignment uid % 997)."""
    return (seed % 997) * 1_000_003


def make_documents(n_docs: int, seed: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows shaped like the `documents` test tables:
    10..100 vocabulary words per doc; every 20th doc is an earlier doc
    plus " dup" (a MinHash near-duplicate) and every 250th doc repeats an
    earlier doc verbatim (an exact duplicate). Rows come in a seeded
    order so doc_id order and storage order differ."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 250 == 0:
            texts.append(texts[rng.randrange(i)])
        elif i >= 20 and i % 20 == 0:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
    rows = list(enumerate(texts))
    rng.shuffle(rows)
    return rows


def write_documents(path: str, n_docs: int, seed: int) -> str:
    rows = make_documents(n_docs, seed)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    out = os.path.join(path, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, out)
    return out


def crawl_seed_hosts(n_hosts: int, seed: int, share: float) -> tuple[int, ...]:
    """A seeded subset of ``share`` of the fixture hosts (always incl.
    the hot host 0, so every seed crawls the same hot spot)."""
    rng = random.Random(seed)
    k = max(1, round(n_hosts * share))
    picked = {0} | set(rng.sample(range(1, n_hosts), k - 1))
    return tuple(sorted(picked))
