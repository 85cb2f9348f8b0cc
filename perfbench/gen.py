"""Seeded input generator.

Everything a workload feeds the engine is made here from the seed, with
numpy and pyarrow only (no Spark), and written under the run's scratch
root.  The same (workload, seed) always yields byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TAGS = ("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
WORDS = tuple(
    "vector index query spark shard cluster probe centroid list scan merge "
    "batch stream chunk library document embed recall search filter table "
    "plan stage task shuffle write read cache tag score rank metric".split()
)
EVENT_TYPES = ("view", "click", "cart", "purchase", "search")

# Sizes per workload.  `serve` is small enough that every query's cost
# is mostly fixed driver work.  `ingest` starts from a store catalog of
# tens of thousands of documents and chunks, so that a mutation whose cost
# grows with the catalog shows, and grows its IVF index by append.
SPECS = {
    "serve": {
        "n": 20_000, "dim": 64, "clusters": 48, "lists": 32, "queries": 1024,
        "docs": 40, "chunks": 1_000,
    },
    "ingest": {
        "n": 10_000, "dim": 64, "clusters": 32, "lists": 16, "queries": 1024,
        "docs": 10_000, "chunks": 10_000, "batches": 16, "batch_rows": 400,
        "events": 10_000,
    },
}


def clustered(rng: np.random.Generator, n: int, dim: int, clusters: int) -> np.ndarray:
    """Gaussian blobs around `clusters` random centres, float32."""
    centres = rng.standard_normal((clusters, dim)) * 3.0
    labels = rng.integers(0, clusters, n)
    return (centres[labels] + rng.standard_normal((n, dim))).astype(np.float32)


def vector_table(ids: np.ndarray, mat: np.ndarray) -> pa.Table:
    dim = mat.shape[1]
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (len(ids) + 1) * dim, dim, dtype=np.int32)),
        pa.array(mat.ravel(), type=pa.float32()),
    )
    return pa.table({"vec_id": pa.array(ids, type=pa.int64()), "embedding": emb})


def chunk_texts(rng: np.random.Generator, n: int) -> tuple[list[str], list[list[str]]]:
    """Chunk texts with tags; one in ten is a planted near-duplicate of an
    earlier chunk (one word changed)."""
    texts: list[str] = []
    tags: list[list[str]] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(6, 16)))]
        texts.append(" ".join(words) + f" #{i}")
        k = int(rng.integers(1, 4))
        tags.append(sorted({TAGS[j] for j in rng.integers(0, len(TAGS), k)}))
    return texts, tags


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The `events` table shape the stream entries read."""
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 7 * 86_400_000_000, n)
    ).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n // 10, n), type=pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 20.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(j)}) for j in rng.integers(0, 50, n)]),
    })


def generate(workload: str, seed: int, root: str) -> dict:
    """Write the workload's inputs under `root`; return paths and arrays."""
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, sorted(SPECS).index(workload)])
    os.makedirs(root, exist_ok=True)
    n, dim = spec["n"], spec["dim"]
    base = clustered(rng, n + spec.get("batches", 0) * spec.get("batch_rows", 0), dim,
                     spec["clusters"])
    corpus, extra = base[:n], base[n:]
    out = {"spec": spec, "corpus": corpus, "ids": np.arange(n, dtype=np.int64)}
    out["corpus_path"] = os.path.join(root, "corpus.parquet")
    pq.write_table(vector_table(out["ids"], corpus), out["corpus_path"])
    # queries: corpus points pushed off their cluster a little
    pick = rng.integers(0, n, spec["queries"])
    out["queries"] = (corpus[pick] + 0.5 * rng.standard_normal((len(pick), dim))).astype(np.float64)
    np.save(os.path.join(root, "queries.npy"), out["queries"])
    if "chunks" in spec:
        texts, tags = chunk_texts(rng, spec["chunks"])
        doc_of = rng.integers(0, spec["docs"], spec["chunks"])
        out.update(texts=texts, tags=tags, doc_of=doc_of)
        with open(os.path.join(root, "chunks.jsonl"), "w") as fh:
            for t, g, d in zip(texts, tags, doc_of):
                fh.write(json.dumps({"text": t, "tags": g, "doc": int(d)}) + "\n")
    if "batches" in spec:
        # appended and streamed vectors, one parquet file per batch
        out["batch_dir"] = os.path.join(root, "batches")
        os.makedirs(out["batch_dir"], exist_ok=True)
        out["batch_paths"] = []
        b = spec["batch_rows"]
        for i in range(spec["batches"]):
            ids = np.arange(n + i * b, n + (i + 1) * b, dtype=np.int64)
            path = os.path.join(out["batch_dir"], f"batch-{i:04d}.parquet")
            pq.write_table(vector_table(ids, extra[i * b:(i + 1) * b]), path)
            out["batch_paths"].append(path)
        out["extra"] = extra
    if "events" in spec:
        out["tables_dir"] = os.path.join(root, "tables")
        os.makedirs(out["tables_dir"], exist_ok=True)
        pq.write_table(events_table(rng, spec["events"]),
                       os.path.join(out["tables_dir"], "events.parquet"))
    return out
