"""Seeded benchmark inputs.

``data/sf0.01/`` holds the fixture corpus the repository's correctness
checks run on: the ten tables of ``tables.SCHEMAS`` (the TPC-H-ish star
schema, ``events``, ``documents`` and ``embeddings``), one parquet file per
table, 60,000 ``lineitem`` rows.  The files are byte copies of that corpus,
so every key sees the row counts, value distributions and near-duplicate
structure it is developed against.

The workload seed permutes each table's rows (a numpy generator and
``pyarrow`` ``take``).  Every seed therefore holds the same rows and asks
for the same work; seeds differ in file order, which moves partition
contents, hash-tie order and merge trees, so an operator whose answer
depends on input order fails its oracle on some seed.  The permuted files
are written once per seed into a cache directory and reused; this is never
timed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def ensure(cache_root: str, seed: int) -> str:
    """Return the directory holding the seed's row permutation of the
    corpus, writing it first if absent.  A directory is only published
    complete: files go to a temporary sibling that is renamed into place."""
    final = os.path.join(cache_root, f"seed{seed}_sf0.01")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(CORPUS)):
        table = pq.read_table(os.path.join(CORPUS, name))
        pq.write_table(table.take(rng.permutation(table.num_rows)), os.path.join(tmp, name))
    os.rename(tmp, final)
    return final
