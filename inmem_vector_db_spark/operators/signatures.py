"""Shared per-corpus text-signature artifact for the dedup family.

The reference treats an index as a built ARTIFACT with its own lifecycle
(build once, query many — ``app/core/indexers/indexer.py:28-39``, rebuild
job M10).  This module is the text-side analog: ONE table

    (doc_id, source, n_chars, shset, shset5, sim60, sig, block)

computed in a single pass over ``documents`` and shared by every
dedup/near-dup/decontamination query — MinHash banding, SimHash banding,
n-gram Jaccard blocking, connected-component clustering, cross-document
shingle census, boilerplate profiling.  Without it each query re-derives
md5 shingle signatures from raw text (the expensive stage: one md5 per
shingle); with it the signatures are computed once per corpus.

Two materialization forms, same schema:

* :func:`corpus_signature_index` — session-scoped: built lazily,
  ``persist()``-ed, memoized per (application, corpus dir).  This is what
  the query pack uses; N dedup queries in one session pay for signatures
  once.
* :func:`write_signature_index` / :func:`read_signature_index` — the
  cluster-scale form: a parquet table written once (an index-build job,
  M10) and scanned by every downstream run.  At 100 TB the signature
  table is a few percent of corpus size (ints + shingle strings) and
  turns every dedup pass from "re-hash the corpus" into a columnar scan
  with pruning.

Column semantics (all engine-portable, DuckDB-reproducible):

* ``shset``  — distinct 3-word shingles (MinHash / Jaccard basis)
* ``shset5`` — distinct 5-word shingles (cross-doc substring census)
* ``sig``    — 12-hash MinHash signature over ``shset`` (min over the
  distinct set == min over the multiset, so values are identical to
  hashing the raw shingle stream)
* ``sim60``  — portable 60-bit SimHash over 2-word shingles
* ``block``  — min md5(shingle) over ``shset`` (1-hash MinHash blocking
  key); NULL when ``shset`` is empty
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inmem_vector_db_spark.functions.text import (
    MINHASH_P,
    minhash_from_hashes,
    shingle_hash,
    simhash60,
    word_shingles,
)
from inmem_vector_db_spark.session import memo


def text_signature_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    minhash_shingle_n: int = 3,
    simhash_shingle_n: int = 2,
    crossdoc_shingle_n: int = 5,
    source_col: str = "source",
) -> DataFrame:
    """Build the signature table (unpersisted plan; callers own caching).

    One scan over ``df``; the per-shingle md5 hashing (the dominant
    cost) happens exactly once — MinHash permutations and the blocking
    key both derive from the same 60-bit hash array.
    """
    nparts = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(id_col)]
    if source_col and source_col in df.columns:
        cols.append(F.col(source_col))
    cols += [
        F.length(text_col).cast("long").alias("n_chars"),
        F.array_distinct(word_shingles(text_col, minhash_shingle_n)).alias("shset"),
        F.array_distinct(word_shingles(text_col, crossdoc_shingle_n)).alias("shset5"),
        simhash60(F.col(text_col), simhash_shingle_n).alias("sim60"),
    ]
    # signature hashing is the CPU-heavy stage and a small input file
    # arrives as one split — spread it across all cores first
    base = df.repartition(nparts, F.col(id_col)).select(*cols)
    hs = F.transform(F.col("shset"), lambda s: shingle_hash(s) % MINHASH_P)
    return base.select(
        "*",
        minhash_from_hashes(hs, num_hashes).alias("sig"),
        F.array_min(F.transform("shset", lambda s: F.md5(s))).alias("block"),
    )


def corpus_signature_index(
    spark: SparkSession, sf_dir: str, table: str = "documents"
) -> DataFrame:
    """The session-shared signature artifact for one corpus directory.

    First call builds + ``persist()``s; later calls (any dedup query in
    the same session) return the SAME DataFrame, so Spark's CacheManager
    serves the columnar cache instead of re-hashing the corpus.
    """
    from inmem_vector_db_spark.sources.loader import load_table

    return memo(
        spark, ("signature_index", str(sf_dir), table),
        lambda: text_signature_index(load_table(spark, sf_dir, table)).persist(),
    )


def write_signature_index(index: DataFrame, path: str) -> None:
    """Materialize the artifact as parquet — the index-build job (M10).
    Downstream dedup runs ``read_signature_index`` instead of re-hashing."""
    index.write.mode("overwrite").parquet(path)


def read_signature_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
