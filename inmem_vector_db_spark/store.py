"""Library -> Document -> Chunk store: the reference's data model and its
CRUD surface re-expressed over Spark (SURVEY.md 1.4, 2.8).

Reference shape: three Pydantic entity types in process-global dicts with
per-indexer locks, pickled per-library on every mutation
(``app/core/models/library.py``, ``app/api/dependencies.py:14``).  Here:

* each entity type is a **table** (libraries / documents / chunks) with
  the §1.4 schema — metadata flattened into typed columns;
* libraries and documents are **driver-side catalogs**, as in the
  reference: one ``{id: row}`` dict each is the table of record, every
  mutation is a dict operation that runs no Spark job, and the table
  reads as a DataFrame (one LocalRelation, built on the first read after
  a mutation).  They must fit in driver memory anyway: ``search`` looks
  its k results' document titles up in the dict, and ``add_chunks``
  checks its batch's document ids against it;
* chunks are kept the same way, with distributed rows: the table of
  record is one ``localCheckpoint``ed segment per ``add_chunks`` batch,
  a driver-side ``{chunk_id: row}`` map of updated rows and one keep
  predicate that every delete ANDs into.  Only ``add_chunks`` (its
  batch) and ``update_chunk`` (one row read) run a Spark job.  The
  table reads as one view (the segments without the edited ids, plus
  the edits as a LocalRelation, filtered by the keep predicate), built
  on the first read after a mutation; once ``_FOLD_AFTER`` mutations
  have piled up, that read checkpoints the view into the only segment,
  so the plan of a long-lived store stays bounded;
* persistence = parquet round-trip (``save``/``load``), replacing pickle
  save/load (``library.py:120-144``, S1-S3).  On a cluster these are
  partitioned tables (``partitionBy("library_id")``) and the chunk
  mutations become Delta ``MERGE``/``DELETE`` — same logical plans, ACID
  commit.

Validation (reference P6, ``chunk.py:25-71`` etc.) happens at ingest:
non-empty name/title/text, deduped non-empty tags, ``page >= 0``,
non-empty 1-D embedding of finite values — failing the batch loudly
rather than silently dropping rows.

Known reference bugs NOT reproduced (SURVEY.md 7.4): the batch-add
cross-document chunk-list pollution (``library.py:107``) and the
update-chunk always-404 (``chunk_service.py:154-156``).
"""

from __future__ import annotations

import functools
import os
import uuid
from collections.abc import Sequence
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from inmem_vector_db_spark.functions.distance import METRICS, distance
from inmem_vector_db_spark.functions.localframe import literal_df
from inmem_vector_db_spark.sources.embedding import DEFAULT_DIM, hash_embed_texts, hash_embedding_expr

LIBRARIES_SCHEMA = (
    "library_id string, name string, indexer_type string, "
    "created_at timestamp, updated_at timestamp, tags array<string>"
)
DOCUMENTS_SCHEMA = (
    "document_id string, library_id string, title string, description string, "
    "source string, author string, created_at timestamp, tags array<string>"
)
CHUNKS_SCHEMA = (
    "chunk_id string, library_id string, document_id string, text string, "
    "embedding array<float>, source string, author string, title string, "
    "description string, page int, created_at timestamp, tags array<string>"
)
_TABLES = ("libraries", "documents", "chunks")
# chunk mutations one chunks view may carry: the first read past them
# folds the view into a single segment (an ingest round makes three)
_FOLD_AFTER = 8

INDEXER_TYPES = ("flat", "lsh")  # hnsw intentionally absent, SURVEY.md 7.3


def _new_id() -> str:
    return str(uuid.uuid4())


def _now() -> datetime:
    """Pinned wall-clock literal.  ``F.current_timestamp()`` would stay
    lazy inside the DataFrame lineage and re-evaluate on every downstream
    recompute, silently rewriting history — timestamps must be data, not
    expressions."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _clean_tag_list(tags: Sequence[str] | None) -> list[str]:
    """Driver-side ``LibraryStore._clean_tags``: drop blank tags, dedup
    keeping the first occurrence (reference ``chunk.py:25-34``)."""
    return list(dict.fromkeys(t for t in tags or () if t and t.strip()))


def tags_superset(tag_col, required: Sequence[str]):
    """ALL-match tag predicate (reference P2): every requested tag must be
    in the row's tags (``library_service.py:207-215``)."""
    req = F.array(*[F.lit(t) for t in required])
    return F.size(F.array_except(req, F.coalesce(tag_col, F.array()))) == 0


def _catalog_table(name: str, schema: str) -> property:
    """A driver-side catalog read as a DataFrame.  The first read after a
    mutation builds one LocalRelation from the ``{id: row}`` dict (a
    Union of LocalRelations has no fold rule, so the view is never
    grown by unions); assigning a DataFrame rebuilds the dict from its
    rows."""

    def read(store: LibraryStore) -> DataFrame:
        view = store._views.get(name)
        if view is None:
            rows = [tuple(r.values()) for r in store._rows[name].values()]
            view = store._views[name] = literal_df(store.spark, rows, schema)
        return view

    def assign(store: LibraryStore, df: DataFrame) -> None:
        # by name: a partitioned snapshot reads back with library_id last
        cols = StructType.fromDDL(schema).fieldNames()
        store._rows[name] = {r[0]: r.asDict() for r in df.select(*cols).collect()}
        store._views.pop(name, None)

    return property(read, assign)


class ValidationError(ValueError):
    pass


class LibraryStore:
    """Driver-side catalogs and a segmented chunks table with explicit
    parquet persistence — the Spark analog of the reference's global
    dict + pickle files."""

    libraries = _catalog_table("libraries", LIBRARIES_SCHEMA)
    documents = _catalog_table("documents", DOCUMENTS_SCHEMA)

    def __init__(self, spark: SparkSession, dim: int = DEFAULT_DIM) -> None:
        self.spark = spark
        self.dim = dim
        # {id: row dict in schema column order}, insertion-ordered
        self._rows: dict[str, dict[str, dict]] = {"libraries": {}, "documents": {}}
        self._views: dict[str, DataFrame] = {}
        self._set_chunks([])

    def _catalog(self, name: str) -> dict[str, dict]:
        """The ``name`` catalog, for a mutation: its cached view goes."""
        self._views.pop(name, None)
        return self._rows[name]

    @property
    def chunks(self) -> DataFrame:
        """The segments without the edited ids, plus the edits as one
        LocalRelation (a true empty one when there are none, which
        Catalyst prunes out of the union), filtered by the keep
        predicate.  Assigning a DataFrame makes it the only segment."""
        view = self._views.get("chunks")
        if view is None:
            parts = list(self._segments)
            if self._edits:
                edited = F.col("chunk_id").isin(list(self._edits))
                parts = [s.filter(~edited) for s in parts]
            rows = [tuple(r.values()) for r in self._edits.values()]
            parts.append(literal_df(self.spark, rows, CHUNKS_SCHEMA))
            view = functools.reduce(DataFrame.union, parts).filter(self._keep)
            if self._mutations >= _FOLD_AFTER:
                # one partition per core: the fold bounds the tasks of a
                # read as well as its plan
                cores = self.spark.sparkContext.defaultParallelism
                view = view.coalesce(cores).localCheckpoint(eager=False)
                self._set_chunks([view])
            self._views["chunks"] = view
        return view

    @chunks.setter
    def chunks(self, df: DataFrame) -> None:
        # by name: a partitioned snapshot reads back with library_id last
        self._set_chunks([df.select(*StructType.fromDDL(CHUNKS_SCHEMA).fieldNames())])

    def _set_chunks(self, segments: list[DataFrame]) -> None:
        self._segments, self._edits, self._keep, self._mutations = segments, {}, F.lit(True), 0
        self._views.pop("chunks", None)

    def _chunks_changed(self) -> None:
        """A chunk mutation: the cached view goes, and it counts toward
        the next fold."""
        self._views.pop("chunks", None)
        self._mutations += 1

    def _keep_only(self, cond) -> None:
        """Delete the chunks failing ``cond`` (no job runs)."""
        self._keep = self._keep & cond
        self._chunks_changed()

    def _embed(self, text: str) -> list[float]:
        """One text embedded driver-side: a 1-row Spark stage would cost
        a whole job for nothing (the reference, too, embeds the query
        once before searching, §3.1 step 3)."""
        return hash_embed_texts(pd.Series([text]), self.dim)[0]

    # -- persistence (S1-S3) ---------------------------------------------

    def save(self, root: str, partition_by_library: bool = False) -> None:
        """Parquet snapshot per table (replaces per-library pickle,
        ``library.py:120-132``).  ``partition_by_library=True`` writes
        documents/chunks partitioned by ``library_id`` so per-library
        reads partition-prune — the layout a multi-tenant 100 TB store
        uses; off by default for small snapshots (avoids tiny files)."""
        for name in _TABLES:
            w = getattr(self, name).write.mode("overwrite")
            if partition_by_library and name != "libraries":
                w = w.partitionBy("library_id")
            w.parquet(os.path.join(root, name))

    @classmethod
    def load(cls, spark: SparkSession, root: str, dim: int = DEFAULT_DIM) -> "LibraryStore":
        """Restore from a snapshot (replaces startup dir scan,
        ``dependencies.py:36-67``)."""
        store = cls(spark, dim)
        for name in _TABLES:
            path = os.path.join(root, name)
            if os.path.exists(path):
                setattr(store, name, spark.read.parquet(path))
        return store

    # -- validation helpers ------------------------------------------------

    def _require_library(self, library_id: str) -> None:
        if library_id not in self._rows["libraries"]:
            raise KeyError(f"library {library_id} not found")  # P5 404 analog

    def _require_document(self, document_id: str, library_id: str | None = None) -> None:
        doc = self._rows["documents"].get(document_id)
        if doc is None or library_id not in (None, doc["library_id"]):
            raise KeyError(f"document {document_id} not found")

    @staticmethod
    def _clean_tags(col):
        """Dedup + drop empty strings (reference ``chunk.py:25-34``)."""
        return F.array_distinct(
            F.filter(F.coalesce(col, F.array()), lambda t: F.trim(t) != "")
        )

    # -- library CRUD (M1, M8, M9) -----------------------------------------

    def create_library(
        self,
        name: str,
        tags: Sequence[str] = (),
        indexer_type: str = "flat",
    ) -> str:
        if not name or not name.strip():
            raise ValidationError("library name must be non-empty")  # library.py:45-49
        if indexer_type not in INDEXER_TYPES:
            raise ValidationError(f"indexer_type must be one of {INDEXER_TYPES}")
        lid, ts = _new_id(), _now()
        self._catalog("libraries")[lid] = dict(
            library_id=lid, name=name, indexer_type=indexer_type,
            created_at=ts, updated_at=ts, tags=_clean_tag_list(tags),
        )
        return lid

    def update_library(self, library_id: str, name: str | None = None,
                       tags: Sequence[str] | None = None) -> None:
        """Rename / replace tags, preserving created_at, bumping
        updated_at (reference M8, ``library_service.py:156-169``)."""
        self._require_library(library_id)
        if name is not None and not name.strip():
            raise ValidationError("library name must be non-empty")
        row = self._catalog("libraries")[library_id]
        if name is not None:
            row["name"] = name
        if tags is not None:
            row["tags"] = _clean_tag_list(tags)
        row["updated_at"] = _now()

    def delete_library(self, library_id: str) -> None:
        """Cascade drop (reference M9 — whose endpoint is bugged/disabled;
        the intended semantics are implemented here)."""
        self._require_library(library_id)
        del self._catalog("libraries")[library_id]
        docs = self._catalog("documents")
        for did in [d for d, r in docs.items() if r["library_id"] == library_id]:
            del docs[did]
        self._keep_only(F.col("library_id") != library_id)

    # -- document CRUD (M2, M7, M8) -----------------------------------------

    def add_documents(self, library_id: str, rows: DataFrame) -> DataFrame:
        """Append documents; input needs ``title`` (+ optional description/
        source/author/tags).  Returns the appended rows with generated ids.
        Validation per reference ``document.py:25-53``: one blank title
        rejects the whole batch.  The batch is collected and its ids are
        assigned driver-side, like every catalog mutation."""
        self._require_library(library_id)
        ts = _now()
        new = []
        for r in rows.collect():
            r = r.asDict()
            title = r.get("title")
            if title is None or not str(title).strip():
                raise ValidationError("document title must be non-empty")  # document.py:47-53
            new.append(dict(
                document_id=_new_id(), library_id=library_id, title=title,
                description=r.get("description", ""), source=r.get("source", ""),
                author=r.get("author"), created_at=ts, tags=_clean_tag_list(r.get("tags")),
            ))
        self._catalog("documents").update((d["document_id"], d) for d in new)
        return literal_df(self.spark, [tuple(d.values()) for d in new], DOCUMENTS_SCHEMA)

    def update_document(self, document_id: str, title: str | None = None,
                        description: str | None = None) -> None:
        self._require_document(document_id)
        if title is not None and not title.strip():
            raise ValidationError("document title must be non-empty")
        row = self._catalog("documents")[document_id]
        if title is not None:
            row["title"] = title
        if description is not None:
            row["description"] = description

    def delete_document(self, document_id: str) -> None:
        """Cascade: the document's chunks go with it (reference M7,
        ``document_service.py:104-123``)."""
        self._require_document(document_id)
        del self._catalog("documents")[document_id]
        self._keep_only(F.col("document_id") != document_id)

    # -- chunk CRUD (M3-M6) --------------------------------------------------

    def add_chunks(self, library_id: str, rows: DataFrame) -> DataFrame:
        """Batch append (reference M4 without its cross-document bug).
        Input needs ``document_id`` + ``text`` (+ optional metadata cols,
        optional ``embedding``).  Missing embeddings are computed by the
        batched provider (S5).  Every document_id must exist — the whole
        batch is rejected otherwise (``chunk_service.py:77-83``)."""
        self._require_library(library_id)
        # the new rows as ONE projection in chunks column order: the
        # input's columns, typed nulls for absent ones, generated values
        given = set(rows.columns)
        cols = {f.name: F.col(f.name) if f.name in given else F.lit(None).cast(f.dataType)
                for f in StructType.fromDDL(CHUNKS_SCHEMA)}
        cols.update(
            chunk_id=F.expr("uuid()"),
            library_id=F.lit(library_id),
            created_at=F.lit(_now()),
            tags=self._clean_tags(cols["tags"]),
            embedding=(cols["embedding"] if "embedding" in given
                       else hash_embedding_expr("text", self.dim)).cast("array<float>"),
        )
        new = rows.select(*[c.alias(n) for n, c in cols.items()])
        # ONE source scan AND one aggregate: ids + embeddings materialize
        # together under the validation aggregate below (eager=False
        # checkpoint rides along with the first action).  The batch's
        # document ids come back in it, to be checked against the
        # driver-side catalog.
        new = new.localCheckpoint(eager=False)
        agg = [
            F.collect_set("document_id").alias("doc_ids"),
            F.sum(F.when(F.col("document_id").isNull(), 1).otherwise(0)).alias("null_doc"),
            F.sum(
                F.when(F.coalesce(F.trim("text"), F.lit("")) == "", 1).otherwise(0)
            ).alias("bad_text"),
            F.sum(F.when(F.col("page") < 0, 1).otherwise(0)).alias("bad_page"),
            # finite values only: an updated row, and a search result,
            # is kept in a LocalRelation, which cannot hold NaN
            # (literal_df), and an inf makes the distances NaN or inf
            F.sum(F.when(
                (F.size(F.coalesce("embedding", F.array())) == 0)
                | F.exists("embedding", lambda x: F.isnan(x) | (F.abs(x) == float("inf"))), 1
            ).otherwise(0)).alias("bad_emb"),
        ]
        stats = new.agg(*agg).head().asDict()
        docs = self._rows["documents"]
        if stats["null_doc"] or any(
            docs.get(d, {}).get("library_id") != library_id for d in stats["doc_ids"]
        ):
            raise KeyError("batch references unknown document_id(s)")  # chunk_service.py:77-83
        if stats["bad_text"]:
            raise ValidationError("chunk text must be non-empty")  # chunk.py:55-61
        if stats.get("bad_page"):
            raise ValidationError("page must be >= 0")  # chunk.py:36-42
        if stats.get("bad_emb"):
            raise ValidationError("embedding must be non-empty and finite")  # chunk.py:63-71
        self._segments.append(new)
        self._chunks_changed()
        return new

    def update_chunk(self, chunk_id: str, text: str | None = None,
                     tags: Sequence[str] | None = None,
                     document_id: str | None = None) -> None:
        """Re-embed iff text changed; metadata merge preserves created_at;
        optional move to another document of the chunk's library
        (reference M5 semantics, ``chunk_service.py:143-191``, minus its
        always-404 endpoint bug).  One job reads the row; the edit is
        driver-side."""
        row = self.chunks.filter(F.col("chunk_id") == chunk_id).head()
        if row is None:
            raise KeyError(f"chunk {chunk_id} not found")
        row = row.asDict()
        if document_id is not None:
            self._require_document(document_id, row["library_id"])
            row["document_id"] = document_id
        if tags is not None:
            row["tags"] = _clean_tag_list(tags)
        if text is not None:
            if not text.strip():
                raise ValidationError("chunk text must be non-empty")
            row["text"], row["embedding"] = text, self._embed(text)
        self._edits[chunk_id] = row
        self._chunks_changed()

    def delete_chunks(self, chunk_ids: Sequence[str]) -> None:
        """Tombstone delete (reference M6): the ids leave through the keep
        predicate."""
        self._keep_only(~F.col("chunk_id").isin(list(chunk_ids)))

    # -- reads (P1-P5, A1-A2, J5) ---------------------------------------------

    def library_stats(self) -> DataFrame:
        """Per-library document/chunk counts (reference A1 — computed in
        every list/get response)."""
        d = self.documents.groupBy("library_id").agg(
            F.count(F.lit(1)).alias("document_count"))
        c = self.chunks.groupBy("library_id").agg(
            F.count(F.lit(1)).alias("chunk_count"))
        return (
            self.libraries.select("library_id", "name")
            .join(d, "library_id", "left").join(c, "library_id", "left")
            .fillna(0, ["document_count", "chunk_count"])
        )

    def list_chunks(self, document_id: str, preview: int = 100) -> DataFrame:
        """Chunks of one document with the reference's 100-char text
        preview (P3 + P4, ``endpoints/chunks.py:57-75``)."""
        return self.chunks.filter(F.col("document_id") == document_id).select(
            "chunk_id",
            "document_id",
            F.when(
                F.length("text") > preview,
                F.concat(F.substring("text", 1, preview), F.lit("...")),
            ).otherwise(F.col("text")).alias("text"),
        )

    def rebuild_index(
        self,
        library_id: str,
        num_tables: int = 10,
        hash_size: int = 8,
        seed: int = 42,
    ) -> DataFrame:
        """The M10 'background rebuild' as a batch job: recompute the
        library's LSH signature table from scratch (reference
        ``background_tasks.py:4-18`` -> ``indexer.build``).  Idempotent,
        no locks; at scale the result is written partitioned by
        (table_idx, sig) and the incremental path
        (``streaming.ingest.incremental_index_ingest``) keeps it fresh
        between rebuilds."""
        from inmem_vector_db_spark.operators.lsh import RandomHyperplaneLSH

        self._require_library(library_id)
        lsh = RandomHyperplaneLSH(
            self.dim, num_tables=num_tables, hash_size=hash_size, seed=seed
        )
        return lsh.build_index(
            self.chunks.filter(F.col("library_id") == library_id),
            id_col="chunk_id",
            vec_col="embedding",
        )

    def search_all_libraries(
        self,
        query_text: str,
        k: int = 5,
        metric: str = "euclidean",
        tie_col: str = "chunk_id",
    ) -> DataFrame:
        """Top-k per library in ONE pass: a window partitioned by
        library_id instead of one job per library (the reference would
        loop its global dict; a multi-tenant cluster query plans this as
        a single partial-topk-per-partition + one shuffle on
        library_id).  Returns (library_id, chunk_id, document_id, score,
        rank)."""
        if k <= 0:
            raise ValidationError("k must be > 0")
        scored = self.chunks.withColumn(
            "score", distance(metric, self._embed(query_text), "embedding")
        )
        w = Window.partitionBy("library_id").orderBy("score", tie_col)
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("library_id", "chunk_id", "document_id", "score", "rank")
        )

    # -- search (§3.1 lifecycle) -----------------------------------------------

    def search(
        self,
        library_id: str,
        query_text: str,
        k: int = 5,
        metric: str = "euclidean",
        filter_tags: Sequence[str] = (),
        include_metadata: bool = True,
        include_embeddings: bool = False,
        parity: bool = False,
        tie_col: str = "chunk_id",
    ) -> DataFrame:
        """Full reference search lifecycle over one library's chunks.

        ``parity=True`` reproduces the reference's quirks (SURVEY.md 3.1):
        rank ALWAYS by euclidean (``library.py:117`` drops the metric),
        tag-filter AFTER top-k then re-slice (can under-fill), while the
        returned ``score`` uses the requested metric
        (``library_service.py:217-223``) — so score and rank can disagree.

        ``parity=False`` (default) = correct semantics: pre-filter tags,
        rank by the requested metric.

        Eager, like the reference's one-request search (§3.1): the top-k
        runs as one Spark job at call time, and the returned DataFrame
        holds the k rows (a LocalRelation), so a later mutation of the
        store does not change it.  Returns (chunk_id, document_id,
        score, rank, doc_title[, text/tags..][, embedding]).
        """
        if k <= 0:
            raise ValidationError("k must be > 0")  # schemas/search.py:38-43
        if metric not in METRICS:
            raise ValidationError(f"metric must be one of {tuple(METRICS)}")
        self._require_library(library_id)
        qvec = self._embed(query_text)

        base = self.chunks.filter(F.col("library_id") == library_id)
        if filter_tags and not parity:
            base = base.filter(tags_superset(F.col("tags"), filter_tags))
        # distances are columns, computed once per row: a sort expression
        # would be evaluated again on every comparison of the top-k
        scored = base.withColumn("score", distance(metric, qvec, "embedding"))
        if parity:
            scored = scored.withColumn("__rank_d", distance("euclidean", qvec, "embedding"))
        meta = ["text", "source", "created_at", "tags", "page"] if include_metadata else []
        meta += ["embedding"] if include_embeddings else []
        # the parity post-filter reads tags, returned or not
        need = ["tags"] if parity and filter_tags and not include_metadata else []
        # orderBy+limit at the root => TakeOrderedAndProject: a
        # partition-local top-k and one merge on the driver, in one job.
        # ``tie_col`` breaks distance ties deterministically; chunk_id
        # (uuid) by default, a stable payload column for oracle checks.
        top = scored.orderBy("__rank_d" if parity else "score", tie_col).limit(k)
        top = top.select("chunk_id", "document_id", "score", *meta, *need)
        # rank, the parity post-filter (reference order: slice to k
        # first, then filter, P2 — no backfill) and the document title
        # (J5) on the driver
        rows = [(*r[:3], rank, self._rows["documents"].get(r["document_id"], {}).get("title"),
                 *(r[c] for c in meta))
                for rank, r in enumerate(top.collect(), 1)
                if not (parity and filter_tags) or set(filter_tags) <= set(r["tags"] or ())]
        types = dict(top.dtypes, rank="int", doc_title="string")
        cols = ["chunk_id", "document_id", "score", "rank", "doc_title", *meta]
        return literal_df(self.spark, rows, ", ".join(f"{c} {types[c]}" for c in cols))
