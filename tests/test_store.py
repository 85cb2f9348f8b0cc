"""LibraryStore CRUD, validation, search lifecycle, and persistence —
mirrors the reference's e2e + save/load test strategy (SURVEY.md 5)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from inmem_vector_db_spark.sources.embedding import hash_embed_texts, with_embeddings
from inmem_vector_db_spark.store import LibraryStore, ValidationError


@pytest.fixture()
def store(spark):
    return LibraryStore(spark)


@pytest.fixture()
def populated(spark, store):
    """A library with 2 documents x 3 chunks, deterministic embeddings."""
    lid = store.create_library("corpus", tags=["test"])
    docs = store.add_documents(
        lid,
        spark.createDataFrame(
            [("JWST", "space telescope"), ("Reef", "coral reef")],
            "title string, description string",
        ),
    ).collect()
    dids = {r["title"]: r["document_id"] for r in docs}
    rows = [
        (dids["JWST"], "infrared telescope at L2", ["space", "nasa"], 1),
        (dids["JWST"], "mirror of 18 hexagonal segments", ["space"], 2),
        (dids["JWST"], "successor to hubble", ["space", "history"], 3),
        (dids["Reef"], "largest living structure", ["ocean"], 1),
        (dids["Reef"], "coral bleaching from warming", ["ocean", "climate"], 2),
        (dids["Reef"], "home to thousands of species", ["ocean"], 3),
    ]
    store.add_chunks(
        lid,
        spark.createDataFrame(
            rows, "document_id string, text string, tags array<string>, page int"
        ),
    )
    return store, lid, dids


def test_embedding_provider_deterministic():
    import pandas as pd

    a = hash_embed_texts(pd.Series(["hello", "world"]))
    b = hash_embed_texts(pd.Series(["hello", "world"]))
    assert a == b
    assert len(a[0]) == 32 and len(set(a[0])) == 1  # constant vector
    assert 0.0 <= a[0][0] < 1.0
    assert a[0] != a[1]


def test_with_embeddings_matches_provider(spark):
    import pandas as pd

    df = spark.createDataFrame([("alpha",), ("beta",)], "text string")
    got = {r["text"]: r["embedding"] for r in with_embeddings(df).collect()}
    want = hash_embed_texts(pd.Series(["alpha", "beta"]))
    assert got["alpha"] == pytest.approx(want[0])
    assert got["beta"] == pytest.approx(want[1])


def test_create_and_stats(populated):
    store, lid, _ = populated
    stats = store.library_stats().collect()
    assert len(stats) == 1
    assert stats[0]["document_count"] == 2 and stats[0]["chunk_count"] == 6


def test_validation_errors(spark, store):
    with pytest.raises(ValidationError):
        store.create_library("   ")
    with pytest.raises(ValidationError):  # HNSW is deliberately absent
        store.create_library("x", indexer_type="hnsw")
    lid = store.create_library("ok")
    with pytest.raises(ValidationError):
        store.add_documents(lid, spark.createDataFrame([("",)], "title string"))
    doc = store.add_documents(
        lid, spark.createDataFrame([("d",)], "title string")
    ).head()
    with pytest.raises(ValidationError):
        store.add_chunks(
            lid,
            spark.createDataFrame(
                [(doc["document_id"], " ")], "document_id string, text string"
            ),
        )
    with pytest.raises(KeyError):  # dangling document_id rejects whole batch
        store.add_chunks(
            lid,
            spark.createDataFrame(
                [("no-such-doc", "text")], "document_id string, text string"
            ),
        )
    with pytest.raises(KeyError):  # a NULL document_id dangles too
        store.add_chunks(
            lid,
            spark.createDataFrame(
                [(doc["document_id"], "t"), (None, "text")],
                "document_id string, text string",
            ),
        )
    other = store.create_library("other")
    with pytest.raises(KeyError):  # a document of another library
        store.add_chunks(
            other,
            spark.createDataFrame(
                [(doc["document_id"], "text")], "document_id string, text string"
            ),
        )
    with pytest.raises(ValidationError):
        store.add_chunks(
            lid,
            spark.createDataFrame(
                [(doc["document_id"], "t", -1)],
                "document_id string, text string, page int",
            ),
        )


def test_nan_embedding_rejected_at_ingest(spark, store):
    """A NaN or an infinity in a given embedding fails its batch: an
    updated chunk's row and a search result are kept in a LocalRelation,
    which cannot hold NaN, and an infinity makes distances NaN or inf."""
    lid = store.create_library("nan")
    doc = store.add_documents(
        lid, spark.createDataFrame([("d",)], "title string")
    ).head()
    for bad in ([1.0, float("nan")], [float("inf"), 1.0, 0.0, 0.0], [0.0, float("-inf")]):
        with pytest.raises(ValidationError, match="finite"):
            store.add_chunks(
                lid,
                spark.createDataFrame(
                    [(doc["document_id"], "t", bad)],
                    "document_id string, text string, embedding array<float>",
                ),
            )
    assert store.chunks.isEmpty()


def test_tag_dedup_and_empty_drop(spark, store):
    lid = store.create_library("t")
    doc = store.add_documents(
        lid, spark.createDataFrame([("d",)], "title string")
    ).head()
    chunks = store.add_chunks(
        lid,
        spark.createDataFrame(
            [(doc["document_id"], "txt", ["a", "a", "", "b"])],
            "document_id string, text string, tags array<string>",
        ),
    ).collect()
    assert sorted(chunks[0]["tags"]) == ["a", "b"]


def test_search_self_similarity_and_enrichment(populated):
    store, lid, dids = populated
    # euclidean: the constant-vector mock embedding gives every text a
    # distinct scalar, so only the identical text has distance 0.
    # (Under cosine ALL constant vectors are parallel => everything ties
    # at 0 — an artifact of the mock scheme, not of the engine.)
    res = store.search(lid, "infrared telescope at L2", k=3, metric="euclidean").collect()
    assert len(res) == 3
    # the constant-vector embedding of the exact same text => distance 0
    assert res[0]["score"] == pytest.approx(0.0, abs=1e-6)
    assert res[0]["document_id"] == dids["JWST"]
    assert res[0]["doc_title"] == "JWST"
    assert [r["rank"] for r in res] == [1, 2, 3]


def test_search_tag_prefilter_vs_parity_postfilter(populated):
    store, lid, _ = populated
    # native mode: pre-filter => always fills k from matching chunks
    native = store.search(
        lid, "coral bleaching from warming", k=2, metric="euclidean",
        filter_tags=["ocean"],
    ).collect()
    assert len(native) == 2
    assert all("ocean" in r["tags"] for r in native)
    # parity mode: top-k first, filter after => may under-fill (reference P2)
    parity = store.search(
        lid, "coral bleaching from warming", k=2, metric="euclidean",
        filter_tags=["climate"], parity=True,
    ).collect()
    assert len(parity) <= 2
    assert all("climate" in r["tags"] for r in parity)


def test_parity_rank_euclidean_score_metric(populated):
    """Reference quirk: rank by euclidean even when metric=dot_product;
    score uses the requested metric (library.py:117 +
    library_service.py:217-223)."""
    store, lid, _ = populated
    res = store.search(lid, "mirror of 18 hexagonal segments", k=6,
                       metric="dot_product", parity=True).collect()
    scores = [r["score"] for r in res]
    assert all(s <= 0 for s in scores)  # negated dot of positive vectors
    # ranking follows euclidean order, not dot order: verify rank order is
    # NOT sorted by score when the two disagree
    assert [r["rank"] for r in res] == sorted(r["rank"] for r in res)


def test_include_flags_projection(populated):
    store, lid, _ = populated
    head = [("chunk_id", "string"), ("document_id", "string"), ("score", "double"),
            ("rank", "int"), ("doc_title", "string")]
    meta = [("text", "string"), ("source", "string"), ("created_at", "timestamp"),
            ("tags", "array<string>"), ("page", "int")]
    slim = store.search(lid, "q", k=1, include_metadata=False)
    assert slim.dtypes == head
    assert store.search(lid, "q", k=1).dtypes == head + meta
    full = store.search(lid, "q", k=1, include_metadata=True, include_embeddings=True)
    assert full.dtypes == head + meta + [("embedding", "array<float>")]


@pytest.mark.parametrize(
    "kw",
    [{}, {"filter_tags": ["ocean"]},
     {"parity": True, "metric": "dot_product", "filter_tags": ["ocean"]}],
    ids=["plain", "tag", "parity-tag"],
)
def test_search_runs_one_job(spark, populated, kw, request):
    """A search and the ``collect()`` of its result run one job of one
    stage: the top-k is a root TakeOrderedAndProject (a partition-local
    top-k merged on the driver, no shuffle), and the rank, the parity
    post-filter and the document titles are driver-side."""
    store, lid, _ = populated
    sc = spark.sparkContext
    group = request.node.name  # one group per case: a group keeps its jobs
    sc.setJobGroup(group, "search + collect")
    try:
        rows = store.search(lid, "coral bleaching from warming", k=3, **kw).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1


def test_update_chunk_reembeds_and_moves(spark, populated):
    store, lid, dids = populated
    chunk = store.chunks.filter(F.col("text") == "successor to hubble").head()
    old_emb = chunk["embedding"]
    store.update_chunk(chunk["chunk_id"], text="entirely new text",
                       document_id=dids["Reef"], tags=["x"])
    new = store.chunks.filter(F.col("chunk_id") == chunk["chunk_id"]).head()
    assert new["text"] == "entirely new text"
    assert new["embedding"] != old_emb  # re-embedded
    assert new["document_id"] == dids["Reef"]
    assert new["tags"] == ["x"]
    assert new["created_at"] == chunk["created_at"]  # preserved



def test_sequential_text_updates_keep_lineage_flat(populated):
    """A text update is one projection: eight in a row leave the chunks
    plan with as many leaf relations as before (a filter + union per
    update would double them each time)."""
    import pandas as pd

    store, _, _ = populated

    def leaves():
        return store.chunks._jdf.queryExecution().analyzed().collectLeaves().size()

    before, n = leaves(), store.chunks.count()
    cid = store.chunks.filter(F.col("text") == "successor to hubble").head()["chunk_id"]
    for i in range(8):
        store.update_chunk(cid, text=f"revision {i}")
    assert leaves() == before
    assert store.chunks.count() == n
    row = store.chunks.filter(F.col("chunk_id") == cid).head()
    assert row["text"] == "revision 7"
    assert row["embedding"] == hash_embed_texts(pd.Series(["revision 7"]))[0]

def test_update_chunk_rejects_cross_library_move(spark, populated):
    """A chunk moves only to a document of its own library (reference
    ``chunk_service.py:143-191`` resolves the target inside the chunk's
    library): another library's document is not found, and the chunk
    stays as it was."""
    store, _, dids = populated
    other = store.create_library("other")
    foreign = store.add_documents(
        other, spark.createDataFrame([("F",)], "title string")
    ).head()["document_id"]
    cid = store.chunks.filter(F.col("text") == "successor to hubble").head()["chunk_id"]
    with pytest.raises(KeyError):
        store.update_chunk(cid, text="moved away", document_id=foreign)
    row = store.chunks.filter(F.col("chunk_id") == cid).head()
    assert (row["document_id"], row["text"]) == (dids["JWST"], "successor to hubble")


def test_chunks_setter_restores_saved_table(spark, populated):
    """Assigning a saved chunks table undoes every later add, update and
    delete (a benchmark round's restore), and later mutations apply to
    the restored table."""
    store, lid, dids = populated
    saved = store.chunks
    want = sorted(map(tuple, saved.collect()))
    cid = saved.filter(F.col("text") == "successor to hubble").head()["chunk_id"]
    gone = saved.filter(F.col("text") == "largest living structure").head()["chunk_id"]
    store.add_chunks(
        lid,
        spark.createDataFrame([(dids["Reef"], "kelp forest")], "document_id string, text string"),
    )
    store.update_chunk(cid, text="changed")
    store.delete_chunks([gone])
    store.chunks = saved
    assert sorted(map(tuple, store.chunks.collect())) == want
    store.update_chunk(cid, tags=["restored"])
    store.delete_chunks([gone])
    rows = {r["chunk_id"]: r for r in store.chunks.collect()}
    assert len(rows) == 5 and gone not in rows
    assert (rows[cid]["text"], rows[cid]["tags"]) == ("successor to hubble", ["restored"])


def test_partitioned_snapshot_chunks_take_updates(spark, populated, tmp_path):
    """A partitioned snapshot's chunks read back with library_id last;
    the restored table keeps the schema's column order and rows, and
    takes updates."""
    store, lid, dids = populated
    root = str(tmp_path / "snap_part")
    store.save(root, partition_by_library=True)
    assert spark.read.parquet(f"{root}/chunks").columns[-1] == "library_id"
    restored = LibraryStore.load(spark, root)
    assert restored.chunks.columns == store.chunks.columns
    assert sorted(map(tuple, restored.chunks.collect())) == sorted(
        map(tuple, store.chunks.collect())
    )
    cid = restored.chunks.filter(F.col("text") == "successor to hubble").head()["chunk_id"]
    restored.update_chunk(cid, text="revised", document_id=dids["Reef"])
    row = restored.chunks.filter(F.col("chunk_id") == cid).head()
    assert (row["text"], row["document_id"], row["library_id"]) == ("revised", dids["Reef"], lid)
    assert restored.chunks.count() == 6


def test_interleaved_chunk_mutations_keep_search_plan_bounded(spark, store):
    """A long-lived store stays O(1) per mutation: rounds of a small add,
    a text update and a two-id delete leave the optimized plan of what
    ``search`` scans (the library's chunks) under a fixed node count
    (one line per node), however many rounds ran, and the live row
    count and each search's row count exact."""
    from inmem_vector_db_spark.functions.localframe import literal_df
    from inmem_vector_db_spark.store import _FOLD_AFTER

    lid = store.create_library("long-lived")
    did = store.add_documents(
        lid, literal_df(spark, [("d",)], "title string")
    ).head()["document_id"]
    live = 0
    for i in range(3 * _FOLD_AFTER):
        new = store.add_chunks(lid, literal_df(
            spark, [(did, f"text {i}-{j}") for j in range(4)], "document_id string, text string"
        ))
        ids = [r["chunk_id"] for r in new.select("chunk_id").collect()]
        store.update_chunk(ids[0], text=f"updated {i}")
        store.delete_chunks(ids[1:3])
        live += 2
        scanned = store.chunks.filter(F.col("library_id") == lid)
        plan = scanned._jdf.queryExecution().optimizedPlan()
        assert len(plan.toString().splitlines()) <= 30, (i, plan.toString())
        assert store.chunks.count() == live
        assert len(store.search(lid, "text 0-0", k=5).collect()) == min(5, live)


def test_delete_cascades(populated):
    store, lid, dids = populated
    store.delete_document(dids["JWST"])
    assert store.chunks.filter(F.col("document_id") == dids["JWST"]).isEmpty()
    assert store.chunks.count() == 3
    store.delete_library(lid)
    assert store.libraries.isEmpty() and store.documents.isEmpty() and store.chunks.isEmpty()


def test_list_chunks_preview(spark, store):
    lid = store.create_library("p")
    doc = store.add_documents(
        lid, spark.createDataFrame([("d",)], "title string")
    ).head()
    long_text = "x" * 150
    store.add_chunks(
        lid,
        spark.createDataFrame(
            [(doc["document_id"], long_text)], "document_id string, text string"
        ),
    )
    row = store.list_chunks(doc["document_id"]).head()
    assert row["text"] == "x" * 100 + "..." and len(row["text"]) == 103


def test_save_load_roundtrip(spark, populated, tmp_path):
    store, lid, _ = populated
    res_before = store.search(lid, "largest living structure", k=3, metric="cosine").collect()
    root = str(tmp_path / "snapshot")
    store.save(root)
    restored = LibraryStore.load(spark, root)
    assert restored.chunks.count() == 6
    res_after = restored.search(lid, "largest living structure", k=3, metric="cosine").collect()
    assert [(r["chunk_id"], round(r["score"], 9)) for r in res_before] == [
        (r["chunk_id"], round(r["score"], 9)) for r in res_after
    ]


def test_metadata_update_preserves_created_at(populated):
    store, lid, _ = populated
    before = store.libraries.head()
    store.update_library(lid, name="renamed", tags=["a", "a", "b"])
    after = store.libraries.head()
    assert after["name"] == "renamed"
    assert sorted(after["tags"]) == ["a", "b"]
    assert after["created_at"] == before["created_at"]
    assert after["updated_at"] >= before["updated_at"]


def test_save_partitioned_roundtrip(spark, populated, tmp_path):
    import os

    store, lid, dids = populated
    root = str(tmp_path / "snap_part")
    store.save(root, partition_by_library=True)
    # partition directories exist and restore works identically
    assert any(
        d.startswith("library_id=") for d in os.listdir(os.path.join(root, "chunks"))
    )
    restored = LibraryStore.load(spark, root)
    assert restored.chunks.count() == store.chunks.count()
    assert set(restored.chunks.columns) == set(store.chunks.columns)
    # partitioned documents read back with library_id last; the
    # restored views keep the schema's column order and the same rows
    for name in ("libraries", "documents"):
        old, new = getattr(store, name), getattr(restored, name)
        assert new.columns == old.columns
        assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    # and the restored catalogs take mutations
    restored.update_library(lid, name="renamed")
    restored.update_document(dids["Reef"], title="Atoll")
    restored.add_documents(lid, spark.createDataFrame([("Comet",)], "title string"))
    assert restored.libraries.head()["name"] == "renamed"
    assert sorted(r["title"] for r in restored.documents.collect()) == ["Atoll", "Comet", "JWST"]


def test_catalog_mutations_build_only_their_batch(spark, store, monkeypatch):
    """A catalog mutation costs O(batch), not O(catalog): twenty one-row
    ``add_documents`` calls build at most one literal row each, and the
    documents view is built once, on the first read after them."""
    import inmem_vector_db_spark.store as store_mod
    from inmem_vector_db_spark.functions.localframe import literal_df

    lid = store.create_library("grow")
    batches = [literal_df(spark, [(f"d{i}",)], "title string") for i in range(20)]
    built = []

    def counting_literal_df(spark_, rows, schema):
        built.append(len(rows))
        return literal_df(spark_, rows, schema)

    monkeypatch.setattr(store_mod, "literal_df", counting_literal_df)
    for batch in batches:
        built.clear()
        store.add_documents(lid, batch)
        assert sum(built) <= 1
    built.clear()
    docs = store.documents
    assert built == [20]
    assert store.documents is docs and built == [20]
    assert docs.count() == 20


def test_add_chunks_checks_documents_without_their_view(spark, store, monkeypatch):
    """``add_chunks`` right after ``add_documents`` checks the batch's
    document ids against the driver-side catalog: the documents view is
    not built, and the batch costs one aggregate (at most two jobs)."""
    import inmem_vector_db_spark.store as store_mod
    from inmem_vector_db_spark.functions.localframe import literal_df

    lid = store.create_library("lib")
    docs = store.add_documents(lid, literal_df(spark, [("a",), ("b",)], "title string"))
    dids = [r["document_id"] for r in docs.collect()]
    batch = literal_df(
        spark, [(dids[i % 2], f"chunk {i}") for i in range(4)],
        "document_id string, text string",
    )
    built = []

    def counting_literal_df(spark_, rows, schema):
        built.append(schema)
        return literal_df(spark_, rows, schema)

    monkeypatch.setattr(store_mod, "literal_df", counting_literal_df)
    sc = spark.sparkContext
    group = "test-add-chunks-jobs"
    sc.setJobGroup(group, "add_chunks after add_documents")
    try:
        store.add_chunks(lid, batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert store_mod.DOCUMENTS_SCHEMA not in built
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert store.chunks.count() == 4


def test_search_all_libraries(spark, populated):
    store, lid, _ = populated
    lid2 = store.create_library("second")
    doc = store.add_documents(
        lid2, spark.createDataFrame([("d2",)], "title string")
    ).head()
    store.add_chunks(
        lid2,
        spark.createDataFrame(
            [(doc["document_id"], "infrared telescope at L2")],
            "document_id string, text string",
        ),
    )
    res = store.search_all_libraries("infrared telescope at L2", k=2).collect()
    by_lib = {}
    for r in res:
        by_lib.setdefault(r["library_id"], []).append(r)
    assert set(by_lib) == {lid, lid2}
    assert len(by_lib[lid]) == 2 and len(by_lib[lid2]) == 1
    # both libraries' best hit is the exact text (euclidean distance 0)
    assert min(r["score"] for r in by_lib[lid]) == pytest.approx(0.0, abs=1e-9)
    assert by_lib[lid2][0]["score"] == pytest.approx(0.0, abs=1e-9)


def test_rebuild_index_signature_table(populated):
    store, lid, _ = populated
    idx = store.rebuild_index(lid, num_tables=4, hash_size=6)
    assert idx.count() == 6 * 4  # 6 chunks x 4 tables
    row = idx.head()
    assert set(idx.columns) == {"chunk_id", "table_idx", "sig"}
    assert len(row["sig"]) == 6 and set(row["sig"]) <= {"0", "1"}
    # idempotent: rebuilding yields the identical table (seeded planes)
    again = store.rebuild_index(lid, num_tables=4, hash_size=6)
    assert idx.exceptAll(again).isEmpty() and again.exceptAll(idx).isEmpty()
