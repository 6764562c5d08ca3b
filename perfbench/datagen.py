"""Seeded input generation for the benchmark workloads.

Every table is written as one parquet file ``<dir>/<name>.parquet``, the
layout ``gridmr_spark.catalog.load_table`` reads, so the registry queries
run on the generated files unchanged. The same seed always gives the same
bytes of data; the program sees nothing but these files.

Tables are built from a fixed base seed and then written in a row order
drawn from the run's seed: a content-preserving permutation. Every seed
therefore asks the program for the same work and the same answer (the
DuckDB oracles stay valid), while the physical row order — and with it
which rows meet in which partition and batch — changes with the seed.
The word-count corpus is drawn from the run's seed directly; its size is
fixed.

The shapes follow the repo's synthetic test data (TESTDATA.md):

- ``documents``: texts of 8..90 words over a 30-word vocabulary; one in
  twenty documents is an earlier document's text plus the token ``dup``
  (the near-duplicates the dedup queries look for), and a few are exact
  copies of another document.
- the word-count corpus: document texts tiled with seeded jitter tokens,
  written as line-safe shards of about 1 MB each.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
SHARD_BYTES = 1 << 20
BASE_SEED = 20_240_917


def _base_rng(salt: int) -> np.random.Generator:
    return np.random.default_rng([BASE_SEED, salt])


def _write(table: pa.Table, order: np.random.Generator, out_dir: str, name: str) -> str:
    """Write ``table`` with its rows in a permutation drawn from ``order``."""
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table.take(order.permutation(table.num_rows)), path)
    return path


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` document texts with near-duplicate and exact-duplicate rows."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(VOCAB), size=int(rng.integers(8, 91)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def write_documents(order: np.random.Generator, out_dir: str, n: int) -> str:
    rng = _base_rng(1)
    texts = document_texts(rng, n)
    ids = rng.permutation(n).astype(np.int64)
    texts = [texts[i] for i in np.argsort(ids)]  # doc_id order != creation order
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return _write(table, order, out_dir, "documents")


def write_text_shards(
    rng: np.random.Generator, out_dir: str, total_bytes: int, n_docs: int = 500
) -> tuple[Counter, int]:
    """Write a line-oriented corpus of about ``total_bytes`` as ~1 MB
    shards ``part-NNNNN.txt`` (lines never straddle a shard), built by
    tiling document texts and adding one seeded jitter token per line.
    Returns the word counts of everything written, counted from the
    generated tokens (not by re-reading the files), and the shard count."""
    os.makedirs(out_dir, exist_ok=True)
    docs = [t.split() for t in document_texts(rng, n_docs)]
    counts: Counter = Counter()
    shard, size, written, n_shards = [], 0, 0, 0

    def flush() -> None:
        nonlocal shard, size, n_shards
        with open(os.path.join(out_dir, f"part-{n_shards:05d}.txt"), "w") as f:
            f.write("".join(shard))
        shard, size, n_shards = [], 0, n_shards + 1

    while written < total_bytes:
        for doc_i, jitter in zip(
            rng.integers(0, n_docs, 4096), rng.integers(0, 50_000, 4096)
        ):
            words = docs[doc_i] + [f"j{jitter}"]
            counts.update(words)
            line = " ".join(words) + "\n"
            shard.append(line)
            size += len(line)
            written += len(line)
            if size >= SHARD_BYTES:
                flush()
            if written >= total_bytes:
                break
    if shard:
        flush()
    return counts, n_shards

