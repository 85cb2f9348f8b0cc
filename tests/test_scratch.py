"""Scratch lifecycle: every scratch path comes from
``session.scratch_dir`` (one per-process root in ``TMPDIR``, removed at
exit), every bounded stream runs through ``streaming.ingest.drain``
(which deletes the checkpoint it made), every on-disk staging memo
of the entry module is ``_memo_artifact``, and every session memo is
``session.memo``, which ``session.reset_memos`` forgets at once."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import tempfile
import textwrap
from pathlib import Path

import pytest

from inmem_vector_db_spark import session
from inmem_vector_db_spark.streaming.ingest import (
    stream_histogram,
    stream_kmv_distinct,
)

REPO_ROOT = Path(__file__).resolve().parent.parent
TEMPFILE_FNS = {"mkdtemp", "mkstemp", "gettempdir"}


def _engine_sources() -> list[Path]:
    pkg = REPO_ROOT / "inmem_vector_db_spark"
    return sorted(pkg.rglob("*.py")) + [REPO_ROOT / "__spark_entry__.py"]


def _is_available_now_trigger(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "trigger"
        and any(kw.arg == "availableNow" for kw in node.keywords)
    )


def test_scratch_paths_and_drains_have_one_owner():
    """No Spark: outside session.py nothing calls tempfile's directory
    functions, the availableNow trigger appears only inside ``drain``,
    and the entry module keeps no hand-rolled staging dict."""
    tempfile_users, triggers = [], []
    for path in _engine_sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = str(path.relative_to(REPO_ROOT))
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else None
            )
            if isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                name = next(
                    (a.name for a in node.names if a.name in TEMPFILE_FNS), None
                )
            if name in TEMPFILE_FNS and not rel.endswith("session.py"):
                tempfile_users.append(f"{rel}:{node.lineno}")
            if _is_available_now_trigger(node):
                owner = min(
                    (f for f in funcs
                     if f.lineno <= node.lineno <= f.end_lineno),
                    key=lambda f: f.end_lineno - f.lineno,
                    default=None,
                )
                triggers.append(
                    (rel, owner.name if owner else None, node.lineno)
                )
    assert not tempfile_users, tempfile_users
    assert [(r, f) for r, f, _ in triggers] == [
        ("inmem_vector_db_spark/streaming/ingest.py", "drain")
    ], triggers

    entry = ast.parse((REPO_ROOT / "__spark_entry__.py").read_text())
    staging_dicts = [
        t.id
        for n in entry.body
        if isinstance(n, (ast.Assign, ast.AnnAssign))
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
        if isinstance(t, ast.Name)
        and (t.id.startswith("_STAGED_") or t.id == "_SIG_STREAM_DIRS")
    ]
    assert not staging_dicts, staging_dicts


def _leftovers(tmp: Path) -> list[str]:
    """Everything under ``tmp`` except empty top-level directories (a
    scratch root that has been made but holds nothing)."""
    return sorted(
        str(p.relative_to(tmp))
        for p in tmp.rglob("*")
        if not (p.is_dir() and p.parent == tmp and not any(p.iterdir()))
    )


def test_sketch_streams_leave_no_checkpoint(spark, tmp_path_factory, monkeypatch):
    """stream_kmv_distinct and stream_histogram checkpoint to scratch
    that is gone by the time they return."""
    src = str(tmp_path_factory.mktemp("sketch_src"))
    spark.range(0, 200, 1, 4).selectExpr(
        "id AS user_id", "CAST(id % 97 AS DOUBLE) AS value"
    ).write.mode("append").parquet(src)
    sdf = spark.readStream.schema("user_id bigint, value double").option(
        "maxFilesPerTrigger", 2
    ).parquet(src)

    tmp = tmp_path_factory.mktemp("sketch_tmp")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(session, "_SCRATCH_ROOT", [], raising=False)
    state = stream_kmv_distinct(sdf, "user_id", k=16)
    assert len(state) == 16
    assert _leftovers(tmp) == []
    hist = stream_histogram(sdf, bin_width=10.0, n_bins=10)
    assert sum(n for n, _ in hist.values()) == 200
    assert _leftovers(tmp) == []


def test_process_exit_leaves_no_scratch(tmp_path):
    """A process that starts a session, stages one memoized artifact,
    drains one stream and exits leaves nothing under its TMPDIR."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        import __spark_entry__ as entrymod
        from inmem_vector_db_spark.session import get_spark
        from inmem_vector_db_spark.streaming.ingest import drain

        spark = get_spark(
            "scratch-exit", master="local[1]",
            extra_conf={"spark.sql.shuffle.partitions": "1"},
        )
        src = entrymod._memo_artifact(
            spark, "no_sf", "src_",
            lambda p: spark.range(10).write.mode("append").parquet(p),
        )
        drain(
            spark.readStream.schema("id bigint").parquet(src)
            .writeStream.format("memory").queryName("scratch_exit")
        )
        assert spark.table("scratch_exit").count() == 10
        """
    )
    tmp = tmp_path / "tmpdir"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp))
    proc = subprocess.run(
        [sys.executable, "-c", script, str(REPO_ROOT)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert sorted(p.name for p in tmp.iterdir()) == []


def test_memo_builds_once_and_reset_forgets(spark):
    """A build runs once per key; one that raises stores nothing; after
    ``reset_memos`` the build runs again and a memoized persisted
    DataFrame is no longer cached (``storageLevel`` asks the
    CacheManager; ``is_cached`` is a Python flag clearCache leaves)."""
    from pyspark import StorageLevel

    calls = []

    def build():
        calls.append(1)
        return spark.range(3).persist()

    df = session.memo(spark, ("memo_test",), build)
    assert session.memo(spark, ("memo_test",), build) is df
    assert len(calls) == 1
    assert df.count() == 3 and df.storageLevel != StorageLevel.NONE

    def fail():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        session.memo(spark, ("memo_fail",), fail)
    assert session.memo(spark, ("memo_fail",), lambda: "built") == "built"

    session.reset_memos(spark)
    assert df.storageLevel == StorageLevel.NONE
    assert session.memo(spark, ("memo_test",), build) is not df
    assert len(calls) == 2
    session.reset_memos(spark)


def test_bench_rerun_rebuilds_instead_of_serving(spark, sf_dir):
    """bench's re-run path starts from fresh memos: a second run of
    ann_ivf_index_build writes a new index directory instead of serving
    the first run's, and returns the same rows."""
    import __spark_entry__ as entrymod
    import bench

    entry = entrymod.queries()["ann_ivf_index_build"]
    frames = []

    def recorded(spark, sf):
        frames.append(entry(spark, sf))
        return frames[-1]

    bench.run_once(spark, sf_dir, recorded)
    first = entrymod._ivf_index_path(spark, sf_dir)
    bench.rerun_once(spark, sf_dir, recorded)
    assert entrymod._ivf_index_path(spark, sf_dir) != first
    first_rows, rerun_rows = (sorted(f.collect()) for f in frames)
    assert first_rows == rerun_rows


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
