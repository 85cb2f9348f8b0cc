"""Table maintenance jobs (the operational side of a 100 TB store).

Streaming appends (``streaming.ingest``) and per-batch CRUD leave many
small parquet files; scans then pay per-file open cost and lose
row-group locality.  ``compact`` is the standard rewrite job: read,
re-partition to a target file size, atomically swap.  The reference has
no analog (one pickle per library); this is pure Spark operations.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet directory into ~target_file_mb files.

    ``sort_by``: optional columns to sort within files — clusters values
    so parquet row-group min/max stats actually skip (poor man's
    Z-order for one key).  Returns {files_before, files_after, bytes}.

    Swap strategy: write to a sibling temp dir, then replace — the
    local-FS stand-in for the atomic metadata swap a table format
    (Delta/Iceberg) provides on a real lake.
    """

    def _list_files(p):
        out = []
        for root, _dirs, files in os.walk(p):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
        return out

    before = _list_files(path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    if sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_files)
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    df.write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return {
        "files_before": len(before),
        "files_after": len(_list_files(path)),
        "bytes": total_bytes,
    }


def write_bucketed(
    df,
    table_name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
):
    """Persist a DataFrame as a hash-bucketed (and optionally
    sort-clustered) table ``table_name`` whose files live at ``path``.

    Bucketing is the pre-computed half of a shuffle: rows are hash
    partitioned by ``bucket_cols`` AT WRITE TIME, so every later join or
    aggregation on those keys reads co-located partitions and skips the
    Exchange entirely.  For a 100 TB store where the same fact-fact join
    runs every day (chunks x signatures, lineitem x orders), paying the
    shuffle once at ingest instead of per-query is the single biggest
    repeated-cost win — pinned by
    tests/test_sources_and_indexer.py::test_bucketed_join_eliminates_shuffle.

    Both sides of a join must agree on bucket count and keys; keep
    num_buckets a multiple of the cluster's parallelism unit.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.option("path", path).saveAsTable(table_name)


def zorder_value(cols, bits: int = 8):
    """Morton/Z-order interleave of pre-quantized non-negative integer
    columns — the multi-dimensional clustering key behind Delta/Iceberg
    OPTIMIZE ZORDER BY (public technique: Morton 1966).

    Bit b of column i lands at position ``b * n_cols + i`` of the
    z-value, so sorting by z keeps rows close in EVERY dimension close
    on disk: parquet row-group min/max stats then prune
    multi-dimensional range predicates, where single-column sort only
    prunes its lead column.  Pure integer shift/mask expressions —
    whole-stage codegen, no UDF.
    """
    from pyspark.sql import functions as F

    ncols = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        cc = F.col(c) if isinstance(c, str) else c
        cc = cc.cast("long")
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(cc, b).bitwiseAND(F.lit(1)), b * ncols + i
            )
    return z


def quantize_minmax(col, lo, hi, bits: int = 8):
    """Map a numeric column into [0, 2^bits) by min/max scaling —
    the quantization step before ``zorder_value``.  ``lo``/``hi`` are
    literals (fold the table min/max driver-side, or use domain
    constants); the expression order (sub, mul, div, floor) is fixed so
    engines reproduce identical codes."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    span = float(hi) - float(lo)
    top = float(2**bits - 1)
    return F.floor(
        (c.cast("double") - F.lit(float(lo))) * F.lit(top) / F.lit(span)
    ).cast("long")


def write_zordered(
    df,
    path: str,
    cols: list[str],
    ranges: dict[str, tuple[float, float]],
    bits: int = 8,
    n_files: int = 8,
    block_size_bytes: int | None = None,
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols`` (quantized by
    the given per-column ranges): repartitionByRange on z spreads the
    curve across files, sortWithinPartitions packs each row group with
    z-adjacent rows.  Multi-dimensional range scans then skip most row
    groups on footer stats alone (asserted with real parquet footers in
    tests/test_sources_and_indexer.py)."""
    from pyspark.sql import functions as F

    z = zorder_value(
        [quantize_minmax(c, *ranges[c], bits=bits) for c in cols], bits=bits
    )
    writer = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
    )
    if block_size_bytes is not None:
        # small row groups = fine-grained skipping (tests use this to
        # get many row groups out of small local data)
        writer = writer.option("parquet.block.size", str(block_size_bytes))
    writer.parquet(path)
