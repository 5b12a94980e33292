"""Seeded input generator: the ``documents`` table the pipeline reads.

The table mirrors the shape of the generated ``documents.parquet`` the
repository's tests use (doc_id, text, lang, source, n_chars): texts are
bags of words over the same 30-word vocabulary, 10-99 words long, with
the same language mix and about 5% near-duplicates (an earlier text
plus a trailing " dup"). The benchmark writes the table into its own
work directory and the program reads only that file, so a run depends
on nothing outside the checkout.
"""

from __future__ import annotations

import os
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data filter fast group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.42, 0.15, 0.14, 0.14, 0.15)
N_SOURCES = 20
DUP_P = 0.05
# doc ids are drawn from this range, so two seeds share almost no url;
# it stays small enough for the pages' warc_ts (epoch + doc_id seconds)
ID_SPACE = 10 ** 8


def documents(seed: int, n: int) -> Dict[str, List]:
    """n documents for ``seed``, as parquet-ready columns.

    Only the draw varies with the seed, never the totals: every corpus
    of size n has the same language counts, the same multiset of text
    lengths and the same number of near-duplicates, so two seeds give
    the pipeline the same amount of work in different documents."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(ID_SPACE, size=n, replace=False)).tolist()
    counts = [round(p * n) for p in LANG_P]
    counts[0] += n - sum(counts)
    langs = rng.permutation(np.repeat(np.arange(len(LANGS)), counts))
    lens = rng.permutation(10 + np.arange(n) * 90 // n)
    dup = np.zeros(n, dtype=bool)
    dup[1 + rng.choice(n - 1, size=round(DUP_P * n), replace=False)] = True
    texts: List[str] = []
    for i in range(n):
        if dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), size=int(lens[i]))
            texts.append(" ".join(VOCAB[w] for w in words))
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [f"src{d % N_SOURCES}" for d in ids],
        "n_chars": [len(t) for t in texts],
    }


SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                    ("lang", pa.string()), ("source", pa.string()),
                    ("n_chars", pa.int64())])


def write_documents(seed: int, n: int, sf_dir: str) -> str:
    """Write ``<sf_dir>/documents.parquet`` for ``seed``; returns the path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.table(documents(seed, n), schema=SCHEMA), path)
    return path
