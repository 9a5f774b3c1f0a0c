"""Seeded benchmark inputs, written inside the benchmark's work dir.

The parquet inputs are one fixed base corpus (generated from
``BASE_SEED``) written in a row order chosen by the run's ``--seed``.
Every seed therefore does the same work and has the same order-insensitive
answer, so stored digests stay valid, while an operator whose result
depends on input row order shows up as a digest mismatch on some seed.

The Spotify workload feeds its seed straight to ``FakeSpotifyClient``;
its checks are derived from the raw dict, so no stored answer is needed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240601

# The corpus copies the measured shape of the package's sf0.1
# ``documents`` table (see METRICS.md for the figures and the command that
# read them): a 30-word vocabulary drawn uniformly, 10-99 words per
# document, 40% "en" and 15% each of four other languages, sources
# ``src0``-``src19`` in turn, and 5% near-duplicates, each a copy of
# another document with " dup" appended.
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_FRAC = 0.05


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    dups = set(rng.choice(n, size=round(n * DUP_FRAC), replace=False)
               .tolist())
    texts = [None if i in dups else
             " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
             for i in range(n)]
    originals = [i for i in range(n) if i not in dups]
    for i in sorted(dups):
        texts[i] = texts[originals[int(rng.integers(len(originals)))]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_tables(documents_n: int) -> dict[str, pa.Table]:
    """The fixed corpus."""
    return {"documents": documents(documents_n,
                                   np.random.default_rng(BASE_SEED))}


def write_permuted(tables: dict[str, pa.Table], seed: int,
                   directory: str) -> dict[str, int]:
    """Write each table as ``<name>.parquet`` (the layout
    ``catalog.load_table`` reads) with its rows in a seed-chosen order.
    Returns the row count per table."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, table in sorted(tables.items()):
        order = rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)),
                       os.path.join(directory, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
