"""JVM-LocalRelation tiny DataFrames (r13).

``spark.createDataFrame(small_list)`` routes through
``sc.parallelize`` — a *pickled Python RDD* whose every evaluation pays
a Python-worker round trip per partition.  Profiled on the r13 bench
host: ~0.65 s per evaluation for a 2-row frame, and ~7 s when wrapped
in ``coalesce(1)`` (the coalesced task evaluates every parallelize
slice through the Python lane sequentially).  Every query that joins or
broadcasts such a frame pays that tax on every run.

``literal_df`` routes the same rows through the Arrow pandas
conversion instead, which plans as a **LocalRelation**: the rows live
in the JVM plan itself — zero tasks to evaluate, free to broadcast,
constant-foldable.  Measured: 0.16-0.3 s total (including collect) at
5000 rows vs 0.87 s for the parallelize path and quadratically worse
for an ``inline(array(struct(...)))`` literal tree (143 s at 2000
rows — the first r13 attempt, reverted).

Intended for bounded driver-side row sets (probe allowlists,
thresholds, id maps, census cells) — every place the engine builds a
small table from Python values in a per-query path.

Exactness: the DDL schema is applied by the Arrow conversion, so
dtypes match ``createDataFrame(rows, schema)`` column for column;
floats cross as binary doubles (no text round trip).  One divergence:
a Python ``float('nan')`` becomes NULL here (pandas/Arrow object-column
semantics), where the parallelize path keeps a NaN double — so a NaN
value, or one inside a list/tuple cell, raises ``ValueError``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["literal_df"]


def _has_nan(rows: Sequence) -> bool:
    """A float NaN in ``rows``: a value, or an element of a list/tuple
    cell."""
    for r in rows:
        for v in r:
            if isinstance(v, float):
                if v != v:
                    return True
            elif isinstance(v, (list, tuple)):
                if any(isinstance(x, float) and x != x for x in v):
                    return True
    return False


def literal_df(
    spark: SparkSession, rows: Sequence, schema: str | StructType
) -> DataFrame:
    """LocalRelation-backed DataFrame from driver-side literal rows.

    ``rows``: sequence of tuples/lists, one per output row (bounded —
    these rows become part of the query plan; keep to the sizes a
    broadcastable driver-side table should be).
    ``schema``: DDL string (``"a bigint, b int"``) or StructType.
    """
    import pandas as pd

    st = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    if not rows:
        # a TRUE empty LocalRelation (r14): createDataFrame([], st)
        # yields a LogicalRDD, which PropagateEmptyRelation cannot
        # prove empty — every union built on such a base keeps a
        # physical Union and take-jobs forever.  An all-null literal
        # row filtered by lit(False) folds (PruneFilters) to the empty
        # LocalRelation the callers expect.
        from pyspark.sql import functions as F

        pdf = pd.DataFrame(
            [tuple(None for _ in st.fields)],
            columns=[f.name for f in st.fields],
            dtype=object,
        )
        return spark.createDataFrame(pdf, st).where(F.lit(False))
    # NaN guard (r13 advisor): the pandas/Arrow object-column path
    # converts float('nan') to NULL, silently diverging from the
    # parallelize path's NaN double — fail loudly instead of shipping
    # the divergence into a plan.  Array cells (centroids, embedding
    # batches) are checked one level down.
    if _has_nan(rows):
        raise ValueError(
            "literal_df: float('nan') in literal rows would "
            "become NULL via the Arrow conversion; keep NaN "
            "out of driver-literal tables (or encode it "
            "explicitly as None)"
        )
    # dtype=object keeps ints exact (no silent float64 widening for
    # null-bearing columns) — the Arrow conversion casts each column to
    # the declared type from the objects directly
    pdf = pd.DataFrame(
        [tuple(r) for r in rows],
        columns=[f.name for f in st.fields],
        dtype=object,
    )
    # Arrow-fallback guard (r13 advisor): if the Arrow conversion falls
    # back to the parallelize path (unsupported object column), the
    # LocalRelation benefit this helper exists for is silently lost —
    # escalate pyspark's fallback warning to an error so it fails loudly
    import warnings

    with warnings.catch_warnings():
        warnings.filterwarnings(
            "error", message=".*ttempting non-optimization.*"
        )
        return spark.createDataFrame(pdf, st)
