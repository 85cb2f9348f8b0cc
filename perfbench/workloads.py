"""The two workloads.  Each is closed loop with one client: the next
request is sent only when the previous one has returned.

A workload is three functions of a `Bench`:

* `setup(b, inputs, out_dir)` builds the artifacts the requests serve
  from, and returns a state object;
* `cycle(b, state, i)` sends one round of requests, one of each kind;
* `check(b, state)` compares what the requests returned with numpy truth
  computed from the generated inputs, outside the timed region, and
  returns the quality and size of the IVF index the run ended with:
  (recall@10, bytes on disk per vector).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inmem_vector_db_spark.functions.localframe import literal_df
from inmem_vector_db_spark.operators.ann import (
    append_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    ivf_search_indexed,
    probe_lists,
    write_ivf_index,
)
from inmem_vector_db_spark.operators.knn import knn
from inmem_vector_db_spark.operators.lsh import RandomHyperplaneLSH
from inmem_vector_db_spark.sources.embedding import hash_embed_texts
from inmem_vector_db_spark.store import LibraryStore
from inmem_vector_db_spark.streaming.ingest import incremental_index_ingest

from gen import TAGS

K = 10
METRICS = ("euclidean", "cosine", "dot_product", "manhattan")
VECTOR_SCHEMA = "vec_id bigint, embedding array<float>"


class Bench:
    """Request runner: latencies per request kind, attempts, failures."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """One call into a layer's public function, as a span."""
        with self.tracer.span(name, layer):
            return fn(*args, **kwargs)

    def collect(self, layer: str, df):
        with self.tracer.span(f"{layer}.exec", layer):
            return df.collect()

    def request(self, kind: str, body):
        """Run one timed request; a raised error counts as a failed attempt
        and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.request(kind):
                out = body()
        except Exception:
            self.failed += 1
            print(f"perfbench: request {kind} failed", file=sys.stderr)
            traceback.print_exc()
            return None
        self.latency[kind].append(time.perf_counter() - t0)
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """A correctness check is an attempt; a mismatch is a failure."""
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append((name, bool(ok), detail))


# -- numpy truth ---------------------------------------------------------------

def np_distance(metric: str, mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """The engine's four metrics in float64 (functions/distance.py)."""
    if metric == "euclidean":
        return np.sqrt(((mat - q) ** 2).sum(1))
    if metric == "manhattan":
        return np.abs(mat - q).sum(1)
    if metric == "dot_product":
        return -(mat @ q)
    qn, vn = np.sqrt((q * q).sum()), np.sqrt((mat * mat).sum(1))
    with np.errstate(divide="ignore", invalid="ignore"):
        d = 1.0 - (mat @ q) / (vn * qn)
    return np.where((vn == 0.0) | (qn == 0.0), 1.0, d)


def topk_matches(got_ids, got_d, cand_ids: np.ndarray, cand_d: np.ndarray, k: int = K) -> str:
    """'' when (got_ids, got_d) is the (dist, id)-ordered top-k of the
    candidates, else why not.  Distances are compared with a tolerance
    of 1e-9 relative, since summation order differs from the engine."""
    want = np.lexsort((cand_ids, cand_d))[:k]
    if len(got_ids) != len(want):
        return f"{len(got_ids)} rows, want {len(want)}"
    tol = 1e-9 * max(1.0, float(np.abs(cand_d[want]).max()))
    pos = np.searchsorted(cand_ids, got_ids)
    if (pos >= len(cand_ids)).any() or (cand_ids[np.minimum(pos, len(cand_ids) - 1)] != got_ids).any():
        return "returned an id outside the candidates"
    got_d = np.asarray(got_d, dtype=np.float64)
    if np.abs(cand_d[pos] - got_d).max() > tol:
        return "returned distance differs from numpy"
    if np.abs(got_d - cand_d[want]).max() > tol:
        return "not the k nearest"
    if (np.diff(got_d) < -tol).any():
        return "not in distance order"
    return ""


def read_ivf(path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(cids, centroid matrix, vec ids, cluster ids) of a written IVF index."""
    cen = pq.read_table(f"{path}/centroids").to_pydict()
    order = np.argsort(cen["cid"], kind="stable")
    cids = np.asarray(cen["cid"])[order]
    cmat = np.asarray(cen["centroid"], dtype=np.float64)[order]
    vec = pq.read_table(f"{path}/vectors", columns=["vec_id", "cluster_id"])
    return cids, cmat, vec.column("vec_id").to_numpy(), vec.column("cluster_id").to_numpy()


def ivf_candidates(ivf, q: np.ndarray, nprobe: int) -> np.ndarray:
    """Ids in the `nprobe` lists nearest q, by the engine's probe rule."""
    cids, cmat, vids, clus = ivf
    probe = probe_lists(list(cids), cmat, q, nprobe)
    return np.sort(vids[np.isin(clus, probe)])


def nearest(d: np.ndarray) -> np.ndarray:
    """Per row of a distance matrix, the columns of its K smallest
    entries in (distance, column) order: every column tied with the K-th
    distance is a candidate, so ties break by column as the engine breaks
    them by id."""
    kth = np.partition(d, K - 1, axis=1)[:, K - 1]
    out = np.empty((len(d), K), dtype=np.int64)
    for i, (row, t) in enumerate(zip(d, kth)):
        cand = np.flatnonzero(row <= t)
        out[i] = cand[np.lexsort((cand, row[cand]))][:K]
    return out


def ivf_recall(ivf, mat: np.ndarray, ids: np.ndarray, queries: np.ndarray, nprobe: int) -> float:
    """recall@10 of a written IVF index over `queries`; `ids` ascending.
    The checks of the `serve` IVF requests prove the engine returns
    exactly the top-k of the probed lists, so the index's recall is
    computed here from the lists themselves, without another Spark job."""
    cids, cmat, vids, clus = ivf
    order = np.argsort(vids)
    pos = np.minimum(np.searchsorted(vids[order], ids), len(vids) - 1)
    # the list of every row of `mat`, as an index into cids; -1 if unlisted
    lst = np.where(vids[order][pos] == ids, np.searchsorted(cids, clus[order][pos]), -1)
    norms = (mat * mat).sum(1)
    hits = 0
    for lo in range(0, len(queries), 128):
        qs = queries[lo:lo + 128]
        probed = np.zeros((len(qs), len(cids) + 1), dtype=bool)
        for qi, q in enumerate(qs):
            probed[qi, np.searchsorted(cids, probe_lists(list(cids), cmat, q, nprobe))] = True
        # squared euclidean minus |q|^2, which ranks rows the same
        d = norms[None, :] - 2.0 * (qs @ mat.T)
        truth = nearest(d)
        got = nearest(np.where(probed[:, lst], d, np.inf))
        hits += sum(len(set(t) & set(g)) for t, g in zip(truth.tolist(), got.tolist()))
    return hits / (K * len(queries))


def bytes_per_vector(path: str, vectors: int) -> float:
    """Disk footprint of a written IVF index (every file under it,
    checksums and files a maintenance step left behind included) per
    vector it holds."""
    total = sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)
    return total / vectors


def fill_store(b: Bench, inputs: dict, name: str):
    """A store with one library holding the generated documents and
    chunks, each added in one batch (the store embeds the chunk texts).
    Returns (store, library id, chunk ids)."""
    spark, spec = b.spark, inputs["spec"]
    store = b.call("store.LibraryStore", "store", LibraryStore, spark)
    lib = b.call("store.create_library", "store", store.create_library, name)
    docs = literal_df(spark, [(f"document {i}", [TAGS[i % len(TAGS)]])
                              for i in range(spec["docs"])], "title string, tags array<string>")
    added = b.call("store.add_documents", "store", store.add_documents, lib, docs)
    doc_ids = [r["document_id"] for r in b.collect("store", added)]
    rows = [(doc_ids[d], t, g) for t, g, d in
            zip(inputs["texts"], inputs["tags"], inputs["doc_of"])]
    chunks = literal_df(spark, rows, "document_id string, text string, tags array<string>")
    added = b.call("store.add_chunks", "store", store.add_chunks, lib, chunks)
    return store, lib, [r["chunk_id"] for r in b.collect("store", added.select("chunk_id"))]


# -- serve -----------------------------------------------------------------------

class Serve:
    """Point queries over artifacts built in setup: exact kNN rotating the
    four metrics, IVF search on the written index, store search with and
    without a tag filter."""

    kinds = tuple(f"knn_{m}" for m in METRICS) + ("ivf", "store_search", "store_search_tag")
    nprobe = 8

    @staticmethod
    def setup(b: Bench, inputs: dict, out_dir: str):
        spark, spec = b.spark, inputs["spec"]
        s = {"inputs": inputs, "results": [], "index": f"{out_dir}/ivf"}
        s["corpus"] = spark.read.parquet(inputs["corpus_path"])
        b.call("ann.write_ivf_index", "ann", write_ivf_index, s["corpus"], s["index"],
               stride=spec["n"] // spec["lists"])
        s["store"], s["lib"], _ = fill_store(b, inputs, "serve")
        return s

    @staticmethod
    def cycle(b: Bench, s: dict, i: int) -> None:
        spark, inputs = b.spark, s["inputs"]
        queries, texts = inputs["queries"], inputs["texts"]
        q = queries[i % len(queries)]

        def knn_request(metric):
            def run():
                df = b.call("knn.knn", "knn", knn, s["corpus"], q.tolist(), k=K, metric=metric)
                return b.collect("knn", df)
            return run

        def ivf_request():
            df = b.call("ann.ivf_search_indexed", "ann", ivf_search_indexed, spark,
                        s["index"], q.tolist(), k=K, nprobe=Serve.nprobe)
            return b.collect("ann", df)

        text = " ".join(texts[(7 * i) % len(texts)].split()[:4])
        tag = TAGS[i % len(TAGS)]

        def search(tags):
            def run():
                df = b.call("store.search", "store", s["store"].search, s["lib"], text, k=K,
                            filter_tags=tags)
                return b.collect("store", df)
            return run

        for metric in METRICS:
            s["results"].append(("knn", i, metric, b.request(f"knn_{metric}", knn_request(metric))))
        s["results"].append(("ivf", i, None, b.request("ivf", ivf_request)))
        s["results"].append(("store", text, (), b.request("store_search", search(()))))
        s["results"].append(("store", text, (tag,), b.request("store_search_tag", search((tag,)))))

    @staticmethod
    def check(b: Bench, s: dict) -> tuple[float, float]:
        inputs = s["inputs"]
        mat, ids, queries = inputs["corpus"].astype(np.float64), inputs["ids"], inputs["queries"]
        ivf = read_ivf(s["index"])
        chunks = s["store"].chunks.select("chunk_id", "embedding", "tags").collect()
        cids = np.asarray([r["chunk_id"] for r in chunks])
        order = np.argsort(cids)
        cids = cids[order]
        cmat = np.asarray([r["embedding"] for r in chunks], dtype=np.float64)[order]
        ctags = [set(chunks[j]["tags"]) for j in order]
        dim = s["store"].dim
        bad = defaultdict(int)
        n = defaultdict(int)
        for kind, key, arg, rows in s["results"]:
            if rows is None:
                continue
            n[kind] += 1
            if kind == "knn":
                q = queries[key % len(queries)]
                why = topk_matches(np.asarray([r["vec_id"] for r in rows]), [r["dist"] for r in rows],
                                   ids, np_distance(arg, mat, q))
            elif kind == "ivf":
                q = queries[key % len(queries)]
                cand = ivf_candidates(ivf, q, Serve.nprobe)
                why = topk_matches(np.asarray([r["vec_id"] for r in rows]), [r["dist"] for r in rows],
                                   cand, np_distance("euclidean", mat[cand], q))
            else:
                qv = np.asarray(hash_embed_texts(pd.Series([key]), dim)[0])
                keep = np.asarray([set(arg) <= t for t in ctags])
                why = topk_matches(np.asarray([r["chunk_id"] for r in rows]), [r["score"] for r in rows],
                                   cids[keep], np_distance("euclidean", cmat[keep], qv))
            if why:
                bad[kind] += 1
                print(f"perfbench: {kind} mismatch: {why}", file=sys.stderr)
        for kind in n:
            b.check(f"serve.{kind}", bad[kind] == 0, f"{n[kind] - bad[kind]}/{n[kind]} exact")
        return (ivf_recall(ivf, mat, ids, queries, Serve.nprobe),
                bytes_per_vector(s["index"], len(ivf[2])))


# -- ingest ----------------------------------------------------------------------

class Ingest:
    """Writes beside reads.  Set-up fills a store with the generated
    catalog (tens of thousands of documents and chunks) and writes the
    base IVF index.  Every round starts from that catalog and a fresh copy
    of the base index, so each round does the same work however many
    rounds a run fits: the store's DataFrame lineage grows with every
    mutation (`update_chunk` doubles it), and carried from round to round
    it would make latency a function of the round count.  A round adds a
    small document batch and a chunk batch (hash embeddings), updates and
    deletes chunks and searches the store; appends a vector batch to the
    IVF index, deletes ids from it and compacts it; and drains a staged
    file through the stream into an LSH signature index, which grows from
    round to round."""

    kinds = ("add_documents", "add_chunks", "update_chunk", "delete_chunks", "store_search",
             "ivf_append", "ivf_delete", "ivf_compact", "stream_ingest")
    docs_per_batch = 10
    chunks_per_batch = 100
    chunk_deletes = 5
    vector_deletes = 10
    nprobe = 6

    @staticmethod
    def setup(b: Bench, inputs: dict, out_dir: str):
        spark, spec = b.spark, inputs["spec"]
        s = {"inputs": inputs, "out": out_dir, "base_index": f"{out_dir}/ivf-base",
             "stream_src": f"{out_dir}/stream-src",
             "sig": f"{out_dir}/stream-sig", "ckpt": f"{out_dir}/stream-ckpt",
             "streamed": [], "searches": []}
        os.makedirs(s["stream_src"])
        b.call("ann.write_ivf_index", "ann", write_ivf_index,
               spark.read.parquet(inputs["corpus_path"]), s["base_index"],
               stride=spec["n"] // spec["lists"])
        s["lsh"] = b.call("lsh.RandomHyperplaneLSH", "lsh", RandomHyperplaneLSH, spec["dim"],
                          num_tables=8, hash_size=8, seed=7)
        store, s["lib"], s["base_chunks"] = fill_store(b, inputs, "ingest")
        b.call("store.create_library", "store", store.create_library, "other")
        # the store's tables as set-up left them: a round puts them back
        # (they are the store's public DataFrames; no library is created
        # or dropped after this, so its library catalog stays valid)
        s["store"], s["tables"] = store, (store.libraries, store.documents, store.chunks)
        return s

    @staticmethod
    def cycle(b: Bench, s: dict, i: int) -> None:
        spark, inputs, lib = b.spark, s["inputs"], s["lib"]
        texts, tags = inputs["texts"], inputs["tags"]
        rng = np.random.default_rng([i, 99])
        # the round's starting state, outside any request
        store = s["store"]
        store.libraries, store.documents, store.chunks = s["tables"]
        r = s["round"] = {"index": f"{s['out']}/ivf-{i}",
                          "docs": inputs["spec"]["docs"], "chunks": list(s["base_chunks"]),
                          "updated": None, "appended": [], "deleted_vecs": []}
        shutil.copytree(s["base_index"], r["index"])
        doc_rows = [(f"doc {i}-{j}", [TAGS[(i + j) % len(TAGS)]]) for j in range(Ingest.docs_per_batch)]

        def add_documents():
            added = b.call("store.add_documents", "store", store.add_documents, lib,
                           literal_df(spark, doc_rows, "title string, tags array<string>"))
            return [row["document_id"] for row in b.collect("store", added)]

        doc_ids = b.request("add_documents", add_documents) or []
        r["docs"] += len(doc_ids)

        def add_chunks():
            pick = [(i * Ingest.chunks_per_batch + j) % len(texts) for j in range(Ingest.chunks_per_batch)]
            batch = [f"{texts[p]} r{i}" for p in pick]
            emb = b.call("sources.hash_embed_texts", "sources", hash_embed_texts,
                         pd.Series(batch), store.dim)
            rows = [(doc_ids[j % len(doc_ids)], t, tags[p], e)
                    for j, (p, t, e) in enumerate(zip(pick, batch, emb))]
            df = literal_df(spark, rows, "document_id string, text string, tags array<string>, "
                                         "embedding array<float>")
            added = b.call("store.add_chunks", "store", store.add_chunks, lib, df)
            return [row["chunk_id"] for row in b.collect("store", added.select("chunk_id"))]

        if doc_ids:
            r["chunks"] += b.request("add_chunks", add_chunks) or []
        live = r["chunks"]
        target = live[int(rng.integers(0, len(live)))]

        def update_chunk():
            b.call("store.update_chunk", "store", store.update_chunk, target, text=f"updated {i}")
            return True

        if b.request("update_chunk", update_chunk):
            r["updated"] = (target, f"updated {i}")
        gone = [live.pop(int(rng.integers(0, len(live)))) for _ in range(Ingest.chunk_deletes)]

        def delete_chunks():
            b.call("store.delete_chunks", "store", store.delete_chunks, gone)
            return True

        if b.request("delete_chunks", delete_chunks) and r["updated"] and r["updated"][0] in gone:
            r["updated"] = None
        text = " ".join(texts[(11 * i) % len(texts)].split()[:3])

        def store_search():
            df = b.call("store.search", "store", store.search, lib, text, k=K)
            return b.collect("store", df)

        s["searches"].append(b.request("store_search", store_search))

        # IVF: append a batch, delete ids, compact fragmented lists
        batch = i % inputs["spec"]["batches"]

        def ivf_append():
            b.call("ann.append_ivf_index", "ann", append_ivf_index,
                   spark.read.parquet(inputs["batch_paths"][batch]), r["index"])
            return True

        if b.request("ivf_append", ivf_append):
            r["appended"].append(batch)
        victims = rng.choice(Ingest.live_ids(inputs, r), Ingest.vector_deletes, replace=False).tolist()

        def ivf_delete():
            return b.call("ann.delete_from_ivf_index", "ann", delete_from_ivf_index,
                          spark, r["index"], victims) is not None

        if b.request("ivf_delete", ivf_delete):
            r["deleted_vecs"] += victims
        b.request("ivf_compact", lambda: b.call(
            "ann.compact_ivf_index", "ann", compact_ivf_index, spark, r["index"]) + 1)

        # stream: stage a batch file under a new name, drain it into the
        # signature index
        shutil.copy(inputs["batch_paths"][batch], os.path.join(s["stream_src"], f"part-{i:05d}.parquet"))

        def stream_ingest():
            b.call("streaming.incremental_index_ingest", "streaming",
                   incremental_index_ingest, spark, s["stream_src"], VECTOR_SCHEMA,
                   s["sig"], s["lsh"].build_index, checkpoint_dir=s["ckpt"])
            return True

        if b.request("stream_ingest", stream_ingest):
            s["streamed"].append(batch)

    @staticmethod
    def vectors(inputs: dict, batches) -> tuple[np.ndarray, np.ndarray]:
        """(ids, float64 matrix) of the base corpus and the given batches,
        sorted by id."""
        n, rows = inputs["spec"]["n"], inputs["spec"]["batch_rows"]
        ids = [inputs["ids"]] + [n + np.arange(j * rows, (j + 1) * rows) for j in batches]
        mats = [inputs["corpus"]] + [inputs["extra"][j * rows:(j + 1) * rows] for j in batches]
        ids, mat = np.concatenate(ids), np.concatenate(mats).astype(np.float64)
        order = np.argsort(ids)
        return ids[order], mat[order]

    @staticmethod
    def live_ids(inputs: dict, r: dict) -> np.ndarray:
        ids = Ingest.vectors(inputs, r["appended"])[0]
        return ids[~np.isin(ids, r["deleted_vecs"])]

    @staticmethod
    def check(b: Bench, s: dict) -> tuple[float, float]:
        """Row counts of the last round's store and index and of the
        signature index every round streamed into."""
        inputs, r, store = s["inputs"], s["round"], s["store"]
        n_docs = store.documents.filter(f"library_id = '{s['lib']}'").count()
        b.check("ingest.documents", n_docs == r["docs"], f"{n_docs} rows, want {r['docs']}")
        chunks = store.chunks.select("chunk_id", "text").collect()
        want = len(r["chunks"])
        b.check("ingest.chunks", len(chunks) == want, f"{len(chunks)} rows, want {want}")
        if r["updated"]:
            cid, text = r["updated"]
            b.check("ingest.update_chunk", [c["text"] for c in chunks if c["chunk_id"] == cid] == [text])
        b.check("ingest.store_search", all(x is not None and len(x) == K for x in s["searches"]))
        live = Ingest.live_ids(inputs, r)
        ivf = read_ivf(r["index"])
        b.check("ingest.ivf_rows", np.array_equal(np.sort(ivf[2]), live),
                f"{len(ivf[2])} rows, want {len(live)}")
        n_sig = pq.read_table(s["sig"]).num_rows if os.path.exists(s["sig"]) else 0
        want_sig = len(s["streamed"]) * inputs["spec"]["batch_rows"] * s["lsh"].num_tables
        b.check("ingest.stream_rows", n_sig == want_sig, f"{n_sig} rows, want {want_sig}")
        ids, mat = Ingest.vectors(inputs, r["appended"])
        keep = np.isin(ids, live)
        return (ivf_recall(ivf, mat[keep], ids[keep], inputs["queries"], Ingest.nprobe),
                bytes_per_vector(r["index"], len(ivf[2])))


WORKLOADS = {"serve": Serve, "ingest": Ingest}
