"""SparkSession factory with scale-appropriate defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on
``local[N]``.  Every setting here is a default, overridable by the caller
or by ``spark-defaults.conf`` on a real cluster.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB posture:
#  - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
#  - shuffle.partitions: a starting point only; AQE coalesces down and a
#    real cluster would raise it (rule of thumb: ~2-3x total cores, with
#    partitions sized 128-512 MB post-compression).
#  - Arrow on: every pandas_udf / mapInPandas stage moves columnar batches.
#  - autoBroadcastJoinThreshold raised: dims (region/nation/part at TPC-H
#    scale, query-vector tables here) should always broadcast.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalesce minPartitionSize stays at the 1m default.  r13
    # experimented with 16k and 256k floors (bytes are a poor proxy for
    # work in CPU-heavy byte-light stages): paired fresh-session probes
    # showed the lower floors over-fragment the text/shingle census
    # family (bigram_lm_score, duplicated_spans, market_basket_lift all
    # slower) for a net LOSS, while the two stages that genuinely need
    # small-bytes parallelism (the pair-GEMM/within-cluster dedup ops)
    # are now pinned locally with explicit-count repartitions on their
    # group keys (operators/dedup.py) — targeted, scale-adaptive via
    # defaultParallelism, and invisible to every other plan.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "64",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # local-mode driver = the whole JVM (all executor threads + cached
    # artifacts share this heap); 16g keeps GC pressure off the bench
    # now that signature/quantized/IVF artifacts stay persisted
    # in-session.  On a real cluster this is an executor-memory knob.
    "spark.driver.memory": "16g",
    # v2 output committer: task commit moves files to their final
    # location directly, removing the O(#files) driver-side rename pass
    # of the job commit — the IVF/LSH index artifacts here are
    # partitioned directory trees (hundreds of partition dirs per
    # write), where the v1 sequential driver rename pass is a measurable
    # constant per build and an O(files) driver stall at production
    # partition counts.  Standard at-scale setting on filesystems with
    # atomic rename; revisit only for object stores without one.
    # HAZARD (r13 advisor): v2 task commits are immediately visible, so
    # a FAILED partitioned index write (write_ivf_index / LSH artifact
    # trees) can leave a partial directory a later reader sees as a
    # valid index.  Accepted for the bench (single-process, loud
    # failures abort the entry before any reader runs); a production
    # deployment should gate artifact readers on the _SUCCESS marker or
    # publish via the rebuild-to-new-path + pointer-swap flow
    # rebuild_ivf_index already documents.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "inmem-vector-db-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` so the same
    code runs unchanged under a cluster manager (where ``master`` is
    supplied externally and this argument stays ``None``).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None:
        master = "local[*]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_MEMOS: dict[tuple, object] = {}


def memo(spark: SparkSession, key: tuple, build):
    """The session memo: the value stored under ``(applicationId, *key)``.
    ``build()`` runs only on a miss, and a ``build()`` that raises
    stores nothing.  Every cross-call reuse in the engine (query
    vectors, reader plans, persisted coarse indexes, written artifact
    paths) goes through here, so one call forgets them all."""
    full = (spark.sparkContext.applicationId, *key)
    if full not in _MEMOS:
        _MEMOS[full] = build()
    return _MEMOS[full]


def reset_memos(spark: SparkSession) -> None:
    """Forget every memo (on-disk artifact paths included; the files
    stay under the scratch root until exit) and drop every cached
    DataFrame, so the next call of any entry redoes each build it
    needs."""
    _MEMOS.clear()
    spark.catalog.clearCache()


_SCRATCH_ROOT: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh directory for staged inputs, artifacts and stream
    checkpoints.  Every one lives under one per-process root, made on
    first use in ``tempfile.gettempdir()`` (so ``TMPDIR`` decides the
    location) and removed when the interpreter exits."""
    if not _SCRATCH_ROOT:
        _SCRATCH_ROOT.append(tempfile.mkdtemp(prefix="inmem_vdb_"))
        atexit.register(shutil.rmtree, _SCRATCH_ROOT[0], ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])
