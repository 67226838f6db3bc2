"""Seeded input generators. Every workload draws its inputs from
`rng(seed, workload)` and writes them as parquet before any timer
starts; the engine sees only these files. The same seed gives the same
files, byte for byte in content."""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng(seed: int, workload: str, stream: str = "") -> np.random.Generator:
    tag = zlib.crc32(f"{workload}/{stream}".encode())
    return np.random.default_rng([int(seed), tag])


def _list_col(mat: np.ndarray, dtype) -> pa.Array:
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), dtype))


# Inputs are split into this many parquet files, so that Spark reads
# them as several partitions, as it would a real dataset. The count is
# fixed, not taken from the host, so a seed gives the same inputs
# everywhere.
FILES = 4


def write_table(path: str, table: pa.Table, files: int = FILES) -> None:
    """Write `table` as a directory of `files` parquet files."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))


def write_vectors(path: str, ids: np.ndarray, mat: np.ndarray, id_col: str,
                  vec_col: str, dtype=pa.float64(), files: int = FILES) -> None:
    write_table(path, pa.table({id_col: pa.array(ids, pa.int64()),
                                vec_col: _list_col(mat, dtype)}), files)


def blobs(g: np.random.Generator, centers: np.ndarray, n: int,
          noise: float, balanced: bool = False) -> np.ndarray:
    """`n` points around `centers`. With `balanced`, the centers take
    turns (shuffled), so every center gets the same share, give or take
    one point, and an input's work does not depend on how the draw
    happened to split it."""
    k = len(centers)
    labels = g.permutation(np.arange(n) % k) if balanced else g.integers(0, k, n)
    return centers[labels] + g.normal(0.0, noise, (n, centers.shape[1]))


# ------------------------------------------------------------ documents

# Ten of the words are the engine's English stopwords, so most
# generated documents pass the quality gate's language rule; the rest
# give the MinHash shingles enough variety that unrelated documents do
# not collide.
WORDS = (
    "the a and of to in is it for on "
    "cluster center point seed vector index shard query batch merge "
    "stage job task driver record corpus token window offset parquet "
    "column value plan scan join filter sort hash sample metric"
).split()


def documents(g: np.random.Generator, n: int, first_id: int) -> pa.Table:
    """`n` documents with planted duplication of three kinds, one per
    dedup stage: exact copies (exact_dedup), copies with a few words
    replaced (near_dedup), and 60-250 character blocks copied into a
    later document (purge_substrings). Copies are only ever made of
    original documents, so every duplicate cluster is a star around a
    lower id and the connected-components loop runs the same number of
    rounds on every shard."""
    words = np.array(WORDS)
    texts, originals = [], []
    for i in range(n):
        text = " ".join(words[g.integers(0, len(words), int(g.integers(12, 90)))])
        u = g.random()
        if originals and u < 0.08:
            src = texts[originals[int(g.integers(0, len(originals)))]]
            if u < 0.03:
                text = src
            else:
                toks = src.split(" ")
                for j in g.integers(0, len(toks), max(1, len(toks) // 20)):
                    toks[int(j)] = str(words[int(g.integers(0, len(words)))])
                text = " ".join(toks)
        else:
            if originals and u < 0.13:
                src = texts[originals[int(g.integers(0, len(originals)))]]
                blen = min(int(g.integers(60, 251)), len(src))
                s0 = int(g.integers(0, len(src) - blen + 1))
                at = int(g.integers(0, len(text) + 1))
                text = text[:at] + src[s0:s0 + blen] + text[at:]
            originals.append(i)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
