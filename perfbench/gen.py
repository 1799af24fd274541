"""Seeded input generator, separate from the program under test.

Every input the benchmark feeds the engine comes from here, derived only
from ``--seed``: the same seed writes byte-identical files.

* ``write_tables`` writes the two catalog tables the batch workload reads,
  ``documents`` and ``embeddings``, as parquet. Their row counts, columns
  and value shapes follow the engine's sf0.1 test data: 5,000 documents of
  10-99 words drawn uniformly from a 30-word vocabulary, 5% of them an
  earlier document's text plus ``" dup"``; 2,000 unit-norm 64-dimensional
  Gaussian vectors whose labels (0-9) are independent of the vectors.
* ``write_stream`` writes a backlog of newline-delimited JSON event files
  for the streaming workloads: files are time-ordered (file ``i`` covers
  ``[i * span, (i + 1) * span)``) and events are shuffled inside each file.
  Keys are Zipf-like.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = 5000
EMBEDDINGS = 2000
DIMS = 64
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (["en"] * 8) + (["de"] * 3) + (["es"] * 3) + (["fr"] * 3) + (["zh"] * 3)
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    words = np.asarray(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
        for _ in range(DOCUMENTS)
    ]
    # near-duplicates: an earlier document's text with " dup" appended
    for i in np.sort(rng.choice(np.arange(1, DOCUMENTS), DOCUMENTS // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pa.table(
        {
            "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.asarray(_LANGS)[rng.integers(0, len(_LANGS), DOCUMENTS)]),
            "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(0.0, 1.0, (EMBEDDINGS, DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, EMBEDDINGS).astype(np.int32)),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, seed: int) -> dict:
    """Write the tables under ``out_dir``; return their rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rows = nbytes = 0
    for name, table in build_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows += table.num_rows
        nbytes += os.path.getsize(path)
    return {"events": rows, "bytes": nbytes}


def _zipf_keys(rng, n: int, n_keys: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    return rng.permutation(n_keys)[ranks]


def write_stream(
    out_dir: str,
    seed: int,
    files: int,
    events_per_file: int,
    n_keys: int,
    span_s: int = 120,
) -> dict:
    """Write ``files`` time-ordered JSON-lines files of ``(ts, k, v)``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    start = _us(datetime(2024, 1, 1))
    nbytes = 0
    for i in range(files):
        ts = start + (i * span_s * 1_000_000) + rng.integers(
            0, span_s * 1_000_000, events_per_file
        )
        k = _zipf_keys(rng, events_per_file, n_keys)
        v = rng.integers(0, 1000, events_per_file)
        stamps = (np.datetime64("1970-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")).astype(str)
        path = os.path.join(out_dir, f"events-{i:04d}.json")
        with open(path, "w") as fh:
            fh.writelines(
                f'{{"ts":"{t}","k":{a},"v":{b}}}\n' for t, a, b in zip(stamps, k, v)
            )
        nbytes += os.path.getsize(path)
    return {"events": files * events_per_file, "bytes": nbytes}
