"""Distance metrics as composable Column expressions (SURVEY.md 2.7 F1-F5).

Semantics match the reference's numpy kernels
(``app/core/indexers/indexer.py:89-130``):

* ``euclidean(q, v)``   = L2 norm of (q - v)                 (indexer.py:106-108)
* ``cosine(q, v)``      = 1 - dot/(|q||v|); 1.0 if either norm is 0
                                                             (indexer.py:110-122)
* ``dot_product(q, v)`` = NEGATED dot product, so ascending sort = most
                          similar                            (indexer.py:124-126)
* ``manhattan(q, v)``   = L1 distance                        (indexer.py:128-130)

Lower score = more similar for all four metrics.

These are pure ``zip_with``/``aggregate`` expressions on the JVM — no
Python round-trip — so a distance column over a 100 TB scan pipelines
with the parquet reader.  Both are ``CodegenFallback`` expressions in
Spark 4.1 (``ZipWith``, ``ArrayAggregate``): whole-stage codegen does
not compile them, and they run interpreted inside the stage.  For dense
multi-query matrix work (one query batch x one corpus partition) the
vectorized numpy path in ``operators.knn`` beats per-row expressions;
both produce identical doubles.

All arithmetic is performed in float64 regardless of the input array's
element type (the reference stores float32 but numpy upcasts its
accumulations; float64 here also keeps the DuckDB oracle comparable).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(v: Column | str) -> Column:
    """Coerce an array column to array<double> for stable accumulation."""
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def l2_norm(v: Column | str) -> Column:
    """||v||_2 as a Column expression."""
    a = _d(v)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def l2_normalize(v: Column | str) -> Column:
    """v / ||v||_2, with zero-vector guard (returns v unchanged if norm=0).

    Reference: HNSW normalizes at insert/query (``hnsw.py:116-117,299-300``);
    LSH normalizes before hashing (``lsh.py:340``).
    """
    a = _d(v)
    n = l2_norm(a)
    return F.when(n == 0.0, a).otherwise(F.transform(a, lambda x: x / n))


def euclidean(q: Column | str, v: Column | str) -> Column:
    """L2 distance (reference ``indexer.py:106-108``)."""
    a, b = _d(q), _d(v)
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )


def cosine(q: Column | str, v: Column | str, q_norm: float | None = None) -> Column:
    """Cosine *distance* = 1 - cos_sim; 1.0 when either norm is zero
    (reference ``indexer.py:110-122``).

    ``q_norm``: pass the query's precomputed ||q|| when q is a literal —
    otherwise the norm-of-a-constant aggregate is re-evaluated per
    corpus row (Catalyst does not fold aggregates over literal arrays).
    Must be the sequential left-fold sum to bit-match the expression.
    """
    a, b = _d(q), _d(v)
    na = F.lit(q_norm) if q_norm is not None else l2_norm(a)
    nb = l2_norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - _dot(a, b) / (na * nb)
    )


def dot_product(q: Column | str, v: Column | str) -> Column:
    """Negated dot product so ascending = most similar
    (reference ``indexer.py:124-126``)."""
    return -_dot(_d(q), _d(v))


def manhattan(q: Column | str, v: Column | str) -> Column:
    """L1 distance (reference ``indexer.py:128-130``)."""
    a, b = _d(q), _d(v)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda s, x: s + x
    )


METRICS = {
    "euclidean": euclidean,
    "cosine": cosine,
    "dot_product": dot_product,
    "manhattan": manhattan,
}


def distance(
    metric: str,
    q: Column | str,
    v: Column | str,
    query_vec=None,
) -> Column:
    """Dispatch by metric name (enum parity with reference
    ``indexer.py:21-26``; validated like ``schemas/search.py:31-36``).

    ``query_vec``: the raw query values when q is a literal column —
    lets cosine fold ||q|| into a scalar literal driver-side instead of
    re-aggregating a constant per corpus row."""
    try:
        fn = METRICS[metric]
    except KeyError:
        raise ValueError(
            f"unknown metric {metric!r}; expected one of {sorted(METRICS)}"
        ) from None
    if metric == "cosine" and query_vec is not None:
        # sequential left-fold, matching the Column aggregate bit-for-bit
        acc = 0.0
        for x in query_vec:
            acc = acc + float(x) * float(x)
        return cosine(q, v, q_norm=acc**0.5)
    return fn(q, v)
