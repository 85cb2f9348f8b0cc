"""Parquet scan layer (reference ops S1-S4, SURVEY.md 2.1).

The reference persists each library as one pickle file and re-reads the
whole directory on startup (``app/api/dependencies.py:36-67``).  Here the
durable format is columnar parquet; "startup recovery" is just
``spark.read.parquet`` — predicate pushdown and column pruning reach the
scan for free, which matters when the table is 100 TB, not 500 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from inmem_vector_db_spark.session import memo

# Driver-generated tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (LTZ, session tz = UTC).

    The driver's parquet stores untagged timestamps, which Spark 4's
    reader infers as TIMESTAMP_NTZ.  NTZ supports no numeric casts
    (``cast(ts AS double)`` is a type error), so temporal arithmetic all
    over the engine would break; LTZ under a UTC session carries the
    identical wall-clock values DuckDB sees for the naive timestamps.
    """
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if not ntz_cols:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Columnar parquet => column pruning + filter pushdown.

    ``events.ts`` has been written as TIMESTAMP(NANOS) by some driver
    generations, which the Spark parquet reader rejects; read it as long
    nanos and convert (integer div, no double round-trip) to a
    microsecond TIMESTAMP — same truncation DuckDB applies, so oracle
    comparisons agree.  Untagged microsecond timestamps (current driver
    output) arrive as TIMESTAMP_NTZ and are normalized to LTZ.
    """
    import os

    # Memoized reader DataFrames: a DataFrame is an immutable plan
    # handle, and re-building reader + NTZ-normalization columns via
    # py4j costs ~80 ms per call — pure client overhead charged to every
    # entry's bench row (the driver tables are immutable, so the plan
    # can never go stale).  Not a .persist() memo: nothing registers in
    # the CacheManager.  Keyed by path + the chaos knob so a
    # repartition-gated run never reuses a plain plan.
    key = ("table", sf_dir, name, os.environ.get("SPARK_GRAFT_REPARTITION"))
    return memo(spark, key, lambda: _load_table_uncached(spark, sf_dir, name))


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _chaos_repartition(_normalize_timestamps(df))
    return _chaos_repartition(
        _normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    )


def _chaos_repartition(df: DataFrame) -> DataFrame:
    """Partition-invariance chaos knob (testing only): when
    ``SPARK_GRAFT_REPARTITION=N`` is set, every loaded table is
    round-robin repartitioned into N parts — a different physical row
    layout and partition count than the natural scan.  Running the full
    oracle gate under this knob proves every query's VALUES are
    independent of input partitioning (the Spark-side twin of the
    DuckDB-side md5-shuffle pin in test_oracle_order_robustness.py).
    Unset (the default, including under the external driver) this is an
    identity — zero plan change."""
    import os

    n = os.environ.get("SPARK_GRAFT_REPARTITION")
    if not n:
        return df
    return df.repartition(int(n))


def load_chunk_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV chunk corpus (reference S4: the test corpus is read with
    ``pd.read_csv`` as columns ``chunk, document_name`` —
    ``tests/test_e2e.py:12-13``).  Header + schema enforced; multiline
    quoted fields supported because real chunk text contains newlines."""
    return (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("chunk string, document_name string")
        .csv(path)
    )


def load_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONL source — the lingua franca of LLM training corpora.  An
    EXPLICIT schema is required: schema inference reads the data twice
    and types drift between files; at 100 TB the schema is a contract,
    not a guess.  Line-delimited (the default), so splits parallelize
    by line offset without parsing state."""
    return spark.read.schema(schema).json(path)


def load_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """General CSV source (S4 beyond the chunk corpus): header +
    EXPLICIT schema (inference double-reads and drifts, same contract
    as ``load_jsonl``), quoted/escaped fields so embedded delimiters
    and newlines round-trip."""
    return (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema(schema)
        .csv(path)
    )


def load_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — same columnar pushdown/pruning properties as
    parquet; included so a corpus landed by an ORC-writing pipeline
    (Hive/Trino ecosystems) reads natively."""
    return spark.read.orc(path)
