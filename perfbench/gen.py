"""Seeded input generator: documents, nation and embeddings parquet.

The program only ever sees these files. Every geometry the engine
decodes is derived from ``doc_id`` by the pages synthesis
(``geozero_spark/sources/pages.py``), so the DuckDB oracles in
``geozero_spark/oracles.py`` stay exact on any generated table. The seed
moves the doc ids (a sparse sorted sample, so point positions, hot-spot
membership and tile occupancy change with it), the text, the language
mix and the embeddings.

Near-duplicate groups are planted with a clone-token splice: each
member repeats its group's base text with one ``c<j>`` token spliced in
at a member-specific word gap. Members keep a high character 3-gram
Jaccard with the base, ids never collide (no id offsets), and group
sizes stay bounded however large the table grows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_WORDS = 4000
LANGS = ("en", "de", "fr", "es", "it")
EMB_DIM = 64
N_NATIONS = 25


def _vocab(rng: np.random.Generator) -> list[str]:
    """Random lower-case words: unrelated texts share few character
    3-grams, so only planted groups pass the near-dup Jaccard test."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, size=int(k)))
            for k in rng.integers(3, 9, size=N_WORDS)]


def _texts(rng: np.random.Generator, n: int, dup_every: int,
           dup_size: int) -> list[str]:
    vocab = _vocab(rng)
    lens = rng.integers(12, 48, size=n)
    words = rng.integers(0, len(vocab), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[w] for w in words[pos:pos + ln]))
        pos += ln
    # groups of dup_size consecutive rows every dup_every rows: member j
    # is the base text with token c<j> spliced after word j
    for base in range(0, n - dup_size, dup_every):
        toks = out[base].split(" ")
        for j in range(1, dup_size):
            cut = min(j, len(toks) - 1)
            out[base + j] = " ".join(toks[:cut] + [f"c{j}"] + toks[cut:])
    return out


def documents(rng: np.random.Generator, n: int, dup_every: int = 40,
              dup_size: int = 4) -> pa.Table:
    ids = np.sort(rng.choice(8 * n, size=n, replace=False)).astype(np.int64)
    texts = _texts(rng, n, dup_every, dup_size)
    langs = rng.choice(np.array(LANGS), size=n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def nation() -> pa.Table:
    keys = np.arange(N_NATIONS, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in keys], pa.string()),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    mat = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    flat = pa.array(mat.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM,
                                 dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 4, size=n).astype(np.int32)),
    })


def write_inputs(out_dir: str, seed: int, n_docs: int,
                 n_vecs: int) -> str:
    """Write the three tables under ``out_dir`` and return it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(rng, n_docs),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(nation(), os.path.join(out_dir, "nation.parquet"))
    pq.write_table(embeddings(rng, n_vecs),
                   os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
