"""Library -> Document -> Chunk store: the reference's data model and its
CRUD surface re-expressed as DataFrame batch jobs (SURVEY.md 1.4, 2.8).

Reference shape: three Pydantic entity types in process-global dicts with
per-indexer locks, pickled per-library on every mutation
(``app/core/models/library.py``, ``app/api/dependencies.py:14``).  Here:

* each entity type is a **table** (libraries / documents / chunks) with
  the §1.4 schema — metadata flattened into typed columns;
* the store holds **immutable DataFrames**; every mutation is a pure
  transformation producing the next version (no locks — the reference's
  ``threading.Lock``/``asyncio.Lock`` machinery has no Spark analog
  because nothing is shared-mutable);
* persistence = parquet round-trip (``save``/``load``), replacing pickle
  save/load (``library.py:120-144``, S1-S3).  On a cluster these are
  partitioned tables (``partitionBy("library_id")``) and the mutations
  become Delta ``MERGE``/``DELETE`` — same logical plans, ACID commit.

Validation (reference P6, ``chunk.py:25-71`` etc.) happens at ingest:
non-empty name/title/text, deduped non-empty tags, ``page >= 0``,
non-empty 1-D embedding — enforced as column expressions, failing the
batch loudly rather than silently dropping rows.

Known reference bugs NOT reproduced (SURVEY.md 7.4): the batch-add
cross-document chunk-list pollution (``library.py:107``) and the
update-chunk always-404 (``chunk_service.py:154-156``).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inmem_vector_db_spark.functions.distance import distance
from inmem_vector_db_spark.functions.localframe import literal_df
from inmem_vector_db_spark.sources.embedding import (
    DEFAULT_DIM,
    hash_embedding_expr,
    with_embeddings,
)

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

METRICS = ("euclidean", "cosine", "dot_product", "manhattan")
INDEXER_TYPES = ("flat", "lsh")  # hnsw intentionally absent, SURVEY.md 7.3


def _new_id() -> str:
    return str(uuid.uuid4())


def _now() -> datetime:
    """Pinned wall-clock literal.  ``F.current_timestamp()`` would stay
    lazy inside the DataFrame lineage and re-evaluate on every downstream
    recompute, silently rewriting history — timestamps must be data, not
    expressions."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def tags_superset(tag_col, required: Sequence[str]):
    """ALL-match tag predicate (reference P2): every requested tag must be
    in the row's tags (``library_service.py:207-215``)."""
    req = F.array(*[F.lit(t) for t in required])
    return F.size(F.array_except(req, F.coalesce(tag_col, F.array()))) == 0


class ValidationError(ValueError):
    pass


class LibraryStore:
    """In-memory-DataFrame store with explicit parquet persistence —
    the Spark analog of the reference's global dict + pickle files."""

    def __init__(self, spark: SparkSession, dim: int = DEFAULT_DIM) -> None:
        self.spark = spark
        self.dim = dim
        # TRUE empty LocalRelations (r14: via literal_df — a bare
        # createDataFrame([], schema) is a LogicalRDD, which
        # PropagateEmptyRelation cannot prove empty, so unions built on
        # it never folded and every metadata head() escalated through
        # take-jobs): Catalyst prunes these out of every union, so the
        # empty bases cost nothing (wrapping them in
        # coalesce/repartition would BLOCK that rule and measurably
        # regress the whole mutation family)
        self.libraries = literal_df(spark, [], LIBRARIES_SCHEMA)
        self.documents = literal_df(spark, [], DOCUMENTS_SCHEMA)
        self.chunks = literal_df(spark, [], CHUNKS_SCHEMA)
        # driver-side catalog of known library ids: existence checks are
        # dict lookups in the reference (``dependencies.py:14``) and must
        # not cost a distributed job here either
        self._library_ids: set[str] = set()

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
        store._library_ids = {
            r["library_id"] for r in store.libraries.select("library_id").collect()
        }
        return store

    # -- validation helpers ------------------------------------------------

    def _require_library(self, library_id: str) -> None:
        if library_id not in self._library_ids:
            raise KeyError(f"library {library_id} not found")  # P5 404 analog

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
        lid = _new_id()
        ts = _now()
        # literal_df (r14): the library row is driver-literal, so it
        # plans as a LocalRelation — metadata reads over the libraries
        # table (existence probes, the M8 created_at checks) then fold
        # driver-side instead of escalating head() through 4 take-jobs
        # of pickled-RDD scans (profiled: ~1 s per head at bench scale)
        new_row = (lid, name, indexer_type, ts, ts,
                   list(dict.fromkeys(t for t in tags if t.strip())))
        # keep the catalog a SINGLE LocalRelation (a Union of
        # LocalRelations has no fold rule, so heads/existence probes
        # over it still launch take-jobs); merging driver-side is
        # size-safe because the current plan being a LocalRelation
        # means the catalog is already driver-resident
        cur = self._literal_rows(self.libraries)
        if cur is not None:
            self.libraries = literal_df(
                self.spark, [tuple(r) for r in cur] + [new_row],
                LIBRARIES_SCHEMA,
            )
        else:
            self.libraries = self.libraries.unionByName(
                literal_df(self.spark, [new_row], LIBRARIES_SCHEMA)
            )
        self._library_ids.add(lid)
        return lid

    def update_library(self, library_id: str, name: str | None = None,
                       tags: Sequence[str] | None = None) -> None:
        """Rename / replace tags, preserving created_at, bumping
        updated_at (reference M8, ``library_service.py:156-169``)."""
        self._require_library(library_id)
        hit = F.col("library_id") == library_id
        df = self.libraries
        if name is not None:
            if not name.strip():
                raise ValidationError("library name must be non-empty")
            df = df.withColumn("name", F.when(hit, F.lit(name)).otherwise(F.col("name")))
        if tags is not None:
            df = df.withColumn(
                "tags",
                F.when(hit, self._clean_tags(F.array(*[F.lit(t) for t in tags])))
                .otherwise(F.col("tags")),
            )
        self.libraries = df.withColumn(
            "updated_at", F.when(hit, F.lit(_now())).otherwise(F.col("updated_at"))
        )

    def delete_library(self, library_id: str) -> None:
        """Cascade drop (reference M9 — whose endpoint is bugged/disabled;
        the intended semantics are implemented here)."""
        self._require_library(library_id)
        keep = F.col("library_id") != library_id
        self.libraries = self.libraries.filter(keep)
        self.documents = self.documents.filter(keep)
        self.chunks = self.chunks.filter(keep)
        self._library_ids.discard(library_id)

    # -- document CRUD (M2, M7, M8) -----------------------------------------

    @staticmethod
    def _literal_rows(df: DataFrame) -> list | None:
        """Rows of a driver-literal frame (one that plans as a
        LocalRelation — e.g. built via ``literal_df``), else None.
        A LocalRelation's rows already live in the plan, so the
        collect here is a driver-side copy, not a distributed job."""
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LocalRelation":
            return None
        return df.collect()

    def add_documents(self, library_id: str, rows: DataFrame) -> DataFrame:
        """Append documents; input needs ``title`` (+ optional description/
        source/author/tags).  Returns the appended rows with generated ids.
        Validation per reference ``document.py:25-53``.

        Driver-literal inputs (LocalRelation-planned, e.g. from
        ``literal_df``) take a driver-side fast path (r14): ids,
        defaults and validation are computed on the literal rows and
        the result is itself a LocalRelation — zero distributed jobs
        for a metadata-only mutation, exactly the reference's
        in-memory-dict cost model.  The distributed path below is
        unchanged and still serves arbitrary (arbitrarily LARGE)
        inputs; the fast path is size-safe by construction because a
        LocalRelation is already driver-resident."""
        self._require_library(library_id)
        lit = self._literal_rows(rows)
        if lit is not None:
            ts = _now()
            cols = set(rows.columns)

            def field(r, name, default):
                return r[name] if name in cols else default

            out = []
            for r in lit:
                title = field(r, "title", None)
                # same predicate as the distributed path's
                # coalesce(trim(title), '') == '' loud check
                if title is None or not str(title).strip():
                    raise ValidationError("document title must be non-empty")
                raw_tags = field(r, "tags", None) or []
                # _clean_tags semantics: drop whitespace-only, dedup
                # keeping first occurrence, preserve original values
                clean = list(dict.fromkeys(t for t in raw_tags if t and t.strip()))
                out.append((
                    _new_id(), library_id, title,
                    field(r, "description", ""),
                    field(r, "source", ""),
                    field(r, "author", None),
                    ts, clean,
                ))
            new = literal_df(self.spark, out, DOCUMENTS_SCHEMA)
            cur = self._literal_rows(self.documents)
            if cur is not None:
                # single merged LocalRelation (see create_library)
                self.documents = literal_df(
                    self.spark, [tuple(r) for r in cur] + out,
                    DOCUMENTS_SCHEMA,
                )
            else:
                self.documents = self.documents.unionByName(new)
            return new
        udf_id = F.expr("uuid()")
        new = (
            rows.withColumn("document_id", udf_id)
            .withColumn("library_id", F.lit(library_id))
            .withColumn("created_at", F.lit(_now()))
            .withColumn("tags", self._clean_tags(F.col("tags") if "tags" in rows.columns else F.lit(None)))
        )
        for c, default in (("description", ""), ("source", ""), ("author", None)):
            if c not in rows.columns:
                new = new.withColumn(c, F.lit(default).cast("string"))
        new = new.select(*self.documents.columns)
        # materialize generated ids so they are stable across re-evaluation
        # (uuid() is nondeterministic per-evaluation — SURVEY.md F9 note);
        # localCheckpoint pins the rows executor-side without a driver
        # round-trip.  eager=False: the validation count below is the
        # first action, so checkpointing rides along with it — one job,
        # not two (document.py:47-53).
        new = new.localCheckpoint(eager=False)
        n_bad = new.filter(F.coalesce(F.trim("title"), F.lit("")) == "").count()
        if n_bad:
            raise ValidationError("document title must be non-empty")  # document.py:47-53
        self.documents = self.documents.unionByName(new)
        return new

    def update_document(self, document_id: str, title: str | None = None,
                        description: str | None = None) -> None:
        hit = F.col("document_id") == document_id
        if self.documents.filter(hit).isEmpty():
            raise KeyError(f"document {document_id} not found")
        df = self.documents
        if title is not None:
            if not title.strip():
                raise ValidationError("document title must be non-empty")
            df = df.withColumn("title", F.when(hit, F.lit(title)).otherwise(F.col("title")))
        if description is not None:
            df = df.withColumn(
                "description", F.when(hit, F.lit(description)).otherwise(F.col("description"))
            )
        self.documents = df

    def delete_document(self, document_id: str) -> None:
        """Cascade: the document's chunks go with it (reference M7,
        ``document_service.py:104-123``)."""
        if self.documents.filter(F.col("document_id") == document_id).isEmpty():
            raise KeyError(f"document {document_id} not found")
        self.documents = self.documents.filter(F.col("document_id") != document_id)
        self.chunks = self.chunks.filter(F.col("document_id") != document_id)

    # -- chunk CRUD (M3-M6) --------------------------------------------------

    def add_chunks(self, library_id: str, rows: DataFrame) -> DataFrame:
        """Batch append (reference M4 without its cross-document bug).
        Input needs ``document_id`` + ``text`` (+ optional metadata cols,
        optional ``embedding``).  Missing embeddings are computed by the
        batched provider (S5).  Every document_id must exist — the whole
        batch is rejected otherwise (``chunk_service.py:77-83``)."""
        self._require_library(library_id)
        docs = self.documents.filter(F.col("library_id") == library_id).select(
            "document_id", F.lit(True).alias("__doc_ok")
        )
        new = rows.join(F.broadcast(docs), "document_id", "left")
        if "embedding" not in rows.columns:
            new = with_embeddings(new, text_col="text", dim=self.dim)
        new = (
            new.withColumn("chunk_id", F.expr("uuid()"))
            .withColumn("library_id", F.lit(library_id))
            .withColumn("created_at", F.lit(_now()))
            .withColumn("tags", self._clean_tags(F.col("tags") if "tags" in rows.columns else F.lit(None)))
            .withColumn("embedding", F.col("embedding").cast("array<float>"))
        )
        for c, typ in (("source", "string"), ("author", "string"), ("title", "string"),
                       ("description", "string"), ("page", "int")):
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(typ))
        new = new.select(*self.chunks.columns, "__doc_ok")
        # ONE source scan AND one job: ids + embeddings + validation flag
        # materialize together under the validation aggregate below
        # (eager=False checkpoint rides along with the first action).
        # The old shape ran a separate validation pass first — a full
        # extra scan + embed of the batch.
        new = new.localCheckpoint(eager=False)
        agg = [
            F.sum(F.when(F.col("__doc_ok").isNull(), 1).otherwise(0)).alias("dangling"),
            F.sum(
                F.when(F.coalesce(F.trim("text"), F.lit("")) == "", 1).otherwise(0)
            ).alias("bad_text"),
            F.sum(F.when(F.col("page") < 0, 1).otherwise(0)).alias("bad_page"),
            F.sum(
                F.when(F.size(F.coalesce("embedding", F.array())) == 0, 1).otherwise(0)
            ).alias("bad_emb"),
        ]
        stats = new.agg(*agg).head().asDict()
        if stats["dangling"]:
            raise KeyError("batch references unknown document_id(s)")  # chunk_service.py:77-83
        if stats["bad_text"]:
            raise ValidationError("chunk text must be non-empty")  # chunk.py:55-61
        if stats.get("bad_page"):
            raise ValidationError("page must be >= 0")  # chunk.py:36-42
        if stats.get("bad_emb"):
            raise ValidationError("embedding must be non-empty")  # chunk.py:63-71
        new = new.drop("__doc_ok")
        self.chunks = self.chunks.unionByName(new)
        return new

    def update_chunk(self, chunk_id: str, text: str | None = None,
                     tags: Sequence[str] | None = None,
                     document_id: str | None = None) -> None:
        """Re-embed iff text changed; metadata merge preserves created_at;
        optional move across documents (reference M5 semantics, minus its
        always-404 endpoint bug)."""
        hit = F.col("chunk_id") == chunk_id
        if self.chunks.filter(hit).isEmpty():
            raise KeyError(f"chunk {chunk_id} not found")
        df = self.chunks
        if document_id is not None:
            if self.documents.filter(F.col("document_id") == document_id).isEmpty():
                raise KeyError(f"document {document_id} not found")
            df = df.withColumn(
                "document_id", F.when(hit, F.lit(document_id)).otherwise(F.col("document_id"))
            )
        if tags is not None:
            df = df.withColumn(
                "tags",
                F.when(hit, self._clean_tags(F.array(*[F.lit(t) for t in tags])))
                .otherwise(F.col("tags")),
            )
        if text is not None:
            if not text.strip():
                raise ValidationError("chunk text must be non-empty")
            # projections only, no filter + union: a union would double
            # the chunks lineage on every text update
            df = df.withColumn("text", F.when(hit, F.lit(text)).otherwise(F.col("text")))
            df = df.withColumn(
                "embedding",
                F.when(hit, hash_embedding_expr("text", self.dim))
                .otherwise(F.col("embedding")),
            )
        self.chunks = df

    def delete_chunks(self, chunk_ids: Sequence[str]) -> None:
        """Anti-join delete (reference M6)."""
        self.chunks = self.chunks.filter(~F.col("chunk_id").isin(list(chunk_ids)))

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
        import pandas as pd

        from inmem_vector_db_spark.sources.embedding import hash_embed_texts

        qvec = hash_embed_texts(pd.Series([query_text]), self.dim)[0]
        qlit = F.lit([float(x) for x in qvec])
        scored = self.chunks.withColumn(
            "score", distance(metric, qlit, F.col("embedding"))
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

        Returns (chunk_id, document_id, score, rank, doc_title
        [, text/tags..][, embedding]).
        """
        if k <= 0:
            raise ValidationError("k must be > 0")  # schemas/search.py:38-43
        if metric not in METRICS:
            raise ValidationError(f"metric must be one of {METRICS}")
        self._require_library(library_id)
        # embed the single query string driver-side (the reference does
        # the same: one embed call before the search, §3.1 step 3) — a
        # 1-row mapInPandas job would cost a full Spark job for nothing
        import pandas as pd

        from inmem_vector_db_spark.sources.embedding import hash_embed_texts

        qvec = hash_embed_texts(pd.Series([query_text]), self.dim)[0]
        qlit = F.lit([float(x) for x in qvec])

        base = self.chunks.filter(F.col("library_id") == library_id)
        rank_metric = "euclidean" if parity else metric
        if filter_tags and not parity:
            base = base.filter(tags_superset(F.col("tags"), filter_tags))
        scored = base.withColumn("__rank_d", distance(rank_metric, qlit, F.col("embedding")))
        # orderBy+limit => TakeOrderedAndProject (partition-local top-k,
        # driver merge — no corpus shuffle); the window then ranks only
        # the k survivors, not the corpus.
        # ``tie_col`` breaks distance ties deterministically; chunk_id
        # (uuid) by default, a stable payload column for oracle checks.
        topk = scored.orderBy("__rank_d", tie_col).limit(k)
        w = Window.orderBy("__rank_d", tie_col)
        topk = topk.withColumn("rank", F.row_number().over(w))
        if filter_tags and parity:
            # reference order: slice to k first, then filter (P2) — no backfill
            topk = topk.filter(tags_superset(F.col("tags"), filter_tags))
        out = topk.withColumn("score", distance(metric, qlit, F.col("embedding")))

        # enrichment join (J5): chunk -> parent document title
        docs = self.documents.select("document_id", F.col("title").alias("doc_title"))
        out = out.join(F.broadcast(docs), "document_id", "left")

        cols = ["chunk_id", "document_id", "score", "rank", "doc_title"]
        if include_metadata:  # P1 projection toggles
            cols += ["text", "source", "created_at", "tags", "page"]
        if include_embeddings:
            cols += ["embedding"]
        return out.select(*cols).orderBy("rank")
