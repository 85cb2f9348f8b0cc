"""inmem_vector_db_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference ``grajat90/inmem-vector-db``
(an in-memory FastAPI vector store), re-expressed Spark-first.

Reference semantics reproduced (see SURVEY.md for the full inventory):

* exact brute-force kNN under 4 distance metrics (flat index,
  ``app/core/indexers/flat_index.py:69-110``)
* seeded random-hyperplane LSH approximate kNN with exact-scan fallback
  (``app/core/indexers/lsh.py``)
* Library -> Document -> Chunk CRUD as batch jobs over parquet tables
  (``app/api/services/*``)
* tag filtering / projection toggles / document-title enrichment of the search
  endpoint (``app/api/services/library_service.py:193-258``)

Beyond-reference, large-scale training-data-pipeline operators: dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
similarity search (brute-force + IVF), text analysis (lang-id, quality,
tokens, fingerprints), multimodal binary-column plumbing, and streaming
ingest with watermarked windows.
"""

from inmem_vector_db_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
