from inmem_vector_db_spark.sources.loader import TABLES, load_table

__all__ = ["TABLES", "load_table"]
