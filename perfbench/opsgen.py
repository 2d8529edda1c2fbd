"""Seeded documents table for the operator-query workload.

Same columns, parquet types and text shape as the ``documents`` table
of the TPC-H-ish test data the dedup queries read (seed 42; see
TESTDATA.md), measured on its sf0.01 (500 rows) and sf0.1 (5000 rows)
copies:

- ``text``: 10 to 100 words, uniform, each drawn uniformly from the
  30-word ``WORDS`` vocabulary (quartiles 32 / 54-56 / 76 words);
- one document in 20 (25 of 500, 250 of 5000) is a near-duplicate: a
  copy of another document of the table with the word ``dup``
  inserted; a copy of a copy carries two or three, and two copies of
  one document at the same spot are exact duplicates (8 pairs in
  sf0.1);
- ``lang``: ``en`` 41%, ``zh``/``es``/``fr``/``de`` 14-15% each;
- ``source``: ``src{doc_id % 20}``; ``n_chars``: the text's length.

The row count is sf0.01's, the size the queries' DuckDB oracle checks
run at.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_DOCUMENTS = 500
DUP_EVERY = 20


def make_documents(out_dir: str, seed: int) -> int:
    """Write ``<out_dir>/documents.parquet``; returns its row count."""
    rng = np.random.default_rng(seed)
    words = [[WORDS[int(k)] for k in
              rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
             for _ in range(N_DOCUMENTS)]
    for i in rng.choice(N_DOCUMENTS, N_DOCUMENTS // DUP_EVERY, replace=False):
        src = int(rng.integers(0, N_DOCUMENTS - 1))
        src += src >= i                         # any document but itself
        copy = list(words[src])
        copy.insert(int(rng.integers(0, len(copy) + 1)), "dup")
        words[i] = copy
    texts = [" ".join(w) for w in words]
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(k)] for k in
                 rng.choice(len(LANGS), N_DOCUMENTS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    return docs.num_rows
