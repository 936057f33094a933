"""Seeded synthetic `documents` and `embeddings` tables for corpus_curate.

The shapes follow the synthetic test tables of TESTDATA.md
(documents(doc_id, text, lang, source, n_chars): random words from a
small vocabulary, 44-577 chars; embeddings(vec_id, embedding ARRAY<FLOAT>
of 64 unit-norm dims, label): ten Gaussian clusters). Unlike a plain
random draw, a share of documents are exact or near copies of earlier
ones and some share long passages, so every dedup operator has real work
and non-empty output.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row column table key value query join group agg sort "
         "merge filter scan hash window stream batch part line order "
         "customer vector spark fast slow big small").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def documents(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    originals: list[int] = []   # copies are made of originals only, so
    for i in range(n):          # duplicate groups are stars of one depth
        r = rng.random() if originals else 1.0
        if r < 0.04:                              # exact copy
            text = texts[originals[int(rng.integers(0, len(originals)))]]
        elif r < 0.12:                            # near copy: a few words swapped
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            words = src.split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text = " ".join(words)
        else:
            words = list(rng.choice(VOCAB, size=int(rng.integers(8, 80))))
            if r < 0.22:                          # shares a passage
                src = texts[originals[int(rng.integers(0, len(originals)))]]
                a = int(rng.integers(0, max(1, len(src.split()) - 12)))
                words[len(words) // 2:len(words) // 2] = src.split()[a:a + 12]
            text = " ".join(words)
            originals.append(i)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, size=n)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def write(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> tuple[str, str]:
    """Write both tables as parquet under out_dir; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in (("documents", documents(n_docs, seed)),
                        ("embeddings", embeddings(n_vecs, seed))):
        path = os.path.join(out_dir, f"{name}.parquet")
        # several row groups, so the scan splits across cores
        pq.write_table(table, path, row_group_size=max(1, table.num_rows // 8))
        paths.append(path)
    return paths[0], paths[1]
