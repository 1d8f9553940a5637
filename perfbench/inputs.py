"""Seeded input generation, cached by (workload, seed, size).

The generator is numpy + pyarrow, so the engine under test does none of
the work and set-up time measures the engine alone. The corpus has the
shape of ``sptag_spark.datagen.gen_sequences``: versioned tokenized
sequences ``(doc_id, tokens, n_tok, source, version, ts)``, every
``HOT_EVERY``-th doc a hot entity with ``HOT_VERSIONS`` versions, the rest
1-4, ``source`` Zipf-split 70/15/10/5 and ``ts`` strictly increasing per
doc (one version per day plus an in-day jitter). Embeddings have the
shape of ``tools/ann_scaling.py``'s generator: 64-d float vectors, each a
cluster centre plus small uniform noise.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import WORK

VOCAB = 50257
SOURCES = np.array(["web", "books", "code", "wiki"])
SOURCE_P = [0.70, 0.15, 0.10, 0.05]
HOT_EVERY = 500
HOT_VERSIONS = 64
DAY_US = 86_400 * 1_000_000
T0_US = 1_735_689_600 * 1_000_000          # 2025-01-01T00:00:00Z
FILES = 8                                  # input splits -> scan tasks
TS_TYPE = pa.timestamp("us", tz="UTC")
DIM = 64
CLUSTERS = 256
VEC_NOISE = 0.15


def doc_ids(nums: np.ndarray) -> pa.Array:
    return pa.array([f"doc{n:08d}" for n in nums.tolist()], pa.string())


def sequences(rng: np.random.Generator, doc_nums: np.ndarray,
              versions: np.ndarray, ts_us: np.ndarray) -> pa.Table:
    """One row per (doc_nums[i], versions[i], ts_us[i])."""
    n = len(doc_nums)
    n_tok = rng.integers(8, 512, n).astype(np.int32)
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    flat = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    src = rng.choice(len(SOURCES), n, p=SOURCE_P)
    return pa.table({
        "doc_id": doc_ids(doc_nums),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
        "n_tok": pa.array(n_tok),
        "source": pa.array(SOURCES[src]),
        "version": pa.array(versions.astype(np.int32)),
        "ts": pa.array(ts_us, TS_TYPE),
    })


def corpus(rng: np.random.Generator, n_docs: int) -> pa.Table:
    docs = np.arange(n_docs)
    n_ver = np.where(docs % HOT_EVERY == 0, HOT_VERSIONS,
                     rng.integers(1, 5, n_docs))
    doc_nums = np.repeat(docs, n_ver)
    starts = np.repeat(np.cumsum(n_ver) - n_ver, n_ver)
    versions = np.arange(len(doc_nums)) - starts
    ts = T0_US + versions * DAY_US + rng.integers(0, DAY_US, len(doc_nums))
    return sequences(rng, doc_nums, versions, ts)


def history_end_us() -> int:
    return T0_US + HOT_VERSIONS * DAY_US


def probes(rng: np.random.Generator, n: int, n_docs: int,
           miss_fraction: float = 0.05, zipf_a: float = 1.3,
           first_qid: int = 0) -> pa.Table:
    """Zipf-skewed doc ids over a seeded permutation of the docs, about
    ``miss_fraction`` unknown ids, ``asof_ts`` from a day before the first
    version to a day after the last."""
    perm = rng.permutation(n_docs)
    rank = np.minimum(rng.zipf(zipf_a, n), n_docs) - 1
    nums = perm[rank]
    miss = rng.random(n) < miss_fraction
    ids = [f"missing{i:08d}" if m else f"doc{d:08d}"
           for i, (m, d) in enumerate(zip(miss.tolist(), nums.tolist()))]
    asof = rng.integers(T0_US - DAY_US, history_end_us() + DAY_US, n)
    return pa.table({
        "qid": pa.array(np.arange(first_qid, first_qid + n), pa.int64()),
        "doc_id": pa.array(ids, pa.string()),
        "asof_ts": pa.array(asof, TS_TYPE),
    })


def cluster_centres(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 3]).uniform(-1, 1, (CLUSTERS, DIM))


def vectors(rng: np.random.Generator, ids: np.ndarray,
            centres: np.ndarray) -> pa.Table:
    """``(vec_id, embedding)``: each vector a random cluster centre plus
    uniform noise of amplitude ``VEC_NOISE``."""
    c = rng.integers(0, len(centres), len(ids))
    x = centres[c] + VEC_NOISE * rng.uniform(-1, 1, (len(ids), DIM))
    flat = pa.array(x.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32)),
            flat),
    })


def matrix(col: pa.ChunkedArray) -> np.ndarray:
    """A column of ``DIM``-long float lists as an (n, DIM) matrix."""
    col = col.combine_chunks()
    return col.flatten().to_numpy().reshape(len(col), DIM)


def write_split(table: pa.Table, path: str, files: int = FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def cached(workload: str, seed: int, size: dict, build) -> str:
    """Directory holding ``build(dir, rng)``'s files for these inputs;
    built once per (workload, seed, size) and reused by later runs."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(WORK, "cache", f"{workload}-s{seed}-{key}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, np.random.default_rng([seed, zlib.crc32(workload.encode())]))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path
