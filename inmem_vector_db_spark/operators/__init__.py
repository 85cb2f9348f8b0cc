from inmem_vector_db_spark.operators.knn import knn, knn_join_vectorized

__all__ = ["knn", "knn_join_vectorized"]
