"""Seeded synthetic crawl corpus for the benchmark.

Writes ``documents.parquet`` in the shape the pipeline reads
(``doc_id long, text string, lang string, source string, n_chars
long``), drawn from the same 31-token universe and length range as the
scale-factor test corpora, so every pass of the link cascade (tier-1,
case-insensitive, conflict, tier-2, ambiguous, unmatched, phrase)
fires. ``doc_id`` is dense from 0, as
``sameas_from_documents`` and the outlink synthesizer expect.

The seed fixes every value; the same seed writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "agg batch column customer data filter group hash key line merge order "
    "part query row scan small sort spark stream table value vector window "
    "join the big fast slow a"
).split()
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)
    texts = []
    for n in lens:
        toks = list(words[rng.integers(0, len(words), n)])
        if rng.random() < 0.05:  # the rare unmatched 'dup' token
            toks[rng.integers(0, n)] = "dup"
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def split_delta(table: pa.Table, frac: float, seed: int) -> tuple[pa.Table, pa.Table]:
    """Seeded split into (base, delta): ``frac`` of the documents,
    picked at random, arrive later as the incremental crawl drop."""
    rng = np.random.default_rng(seed + 1)
    n = table.num_rows
    is_delta = np.zeros(n, dtype=bool)
    is_delta[rng.choice(n, max(1, int(round(n * frac))), replace=False)] = True
    return table.filter(pa.array(~is_delta)), table.filter(pa.array(is_delta))
