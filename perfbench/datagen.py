"""Deterministic synthetic inputs for the benchmark.

Writes the tables the benchmark's workloads read (``documents``,
``embeddings``, ``events``) as one parquet file each, in the layout
``sources.tables.load_table`` expects (``<dir>/<table>.parquet``), with the
column types and value domains of the engine's standard test tables:

- ``documents``: text drawn from a 31-word vocabulary, 10-99 words, with a
  share of near-duplicate copies (1-3 words substituted) so the dedup and
  clustering queries have work to find;
- ``embeddings``: 64-d unit vectors around 10 weak label centroids;
- ``events``: a month of click-stream rows keyed by ``user_id``.

The tables are a pure function of ``(sizes, DATA_SEED)``, so a cache
directory keyed by the sizes can be reused across runs; the workload seed
only orders and splits the work.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
NEAR_DUP_SHARE = 0.06
EMBED_DIM = 64


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                j = int(rng.integers(0, len(words)))
                words[j] = VOCAB[(VOCAB.index(words[j]) + 1 + int(rng.integers(0, 30))) % 31]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        text = " ".join(words)
        while text in texts:  # no exact duplicates, as in the standard tables
            text += " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.14, (10, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM)) / np.sqrt(EMBED_DIM) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def events(n: int, rng: np.random.Generator) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.choice(month_us, n, replace=False))
    n_users = max(150, n // 66)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


GENERATORS = {"documents": documents, "embeddings": embeddings, "events": events}


def ensure_tables(root: str, sizes: dict[str, int]) -> str:
    """Write the tables named in ``sizes`` under ``root`` unless a previous
    run already did; returns the directory to pass to ``load_table``."""
    key = "-".join(f"{t}{n}" for t, n in sorted(sizes.items()))
    out = os.path.join(root, key)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, n in sorted(sizes.items()):
        # one generator per table, so each table is independent of the others
        rng = np.random.default_rng([DATA_SEED, sorted(GENERATORS).index(name)])
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(GENERATORS[name](n, rng), tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as f:
        json.dump(sizes, f)
    return out


def fragments_dir(data_dir: str, table: str) -> str:
    return os.path.join(data_dir, f"{table}_fragments")


def ensure_fragments(data_dir: str, table: str, n_files: int) -> str:
    """A copy of ``table`` split into ``n_files`` parquet files in
    ``fragments_dir``: the small-file input of compaction. Written once per
    data directory; returns its path."""
    out = fragments_dir(data_dir, table)
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"))
    rows = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * rows, rows), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, out)
    return out
