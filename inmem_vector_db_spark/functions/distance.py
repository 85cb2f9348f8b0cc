"""Distance metrics, each one SQL expression and one numpy function
(SURVEY.md 2.7 F1-F5).

Semantics match the reference's numpy kernels
(``app/core/indexers/indexer.py:89-130``):

* ``euclidean(q, v)``   = L2 norm of (q - v)                 (indexer.py:106-108)
* ``cosine(q, v)``      = 1 - dot/(|q||v|); 1.0 if either norm is 0
                                                             (indexer.py:110-122)
* ``dot_product(q, v)`` = NEGATED dot product, so ascending sort = most
                          similar                            (indexer.py:124-126)
* ``manhattan(q, v)``   = L1 distance                        (indexer.py:128-130)

Lower score = more similar for all four metrics.

``distance(metric, q, v)`` is the one way to build a metric.  Each
operand is SQL text (a column name, a qualified name such as
``a.embedding``, or an expression) or a sequence of floats, which is a
query vector.  A query vector is rendered once as an ``array(<repr>D,
...)`` literal, and for cosine its norm is folded driver-side into a
literal with the same sequential left fold the SQL aggregate runs, so a
constant norm is never re-aggregated per corpus row.  The metric comes
back as one ``F.expr``: one parse per query, where building the same
expression from Column calls cost one py4j round trip per query element
(``F.lit(list)``) and more for every lambda.  ``nan`` and ``inf`` have
no SQL literal, and a non-finite query value is rejected by position.

The metrics are ``zip_with``/``aggregate`` expressions on the JVM — no
Python round-trip — so a distance column over a 100 TB scan pipelines
with the parquet reader.  Both are ``CodegenFallback`` expressions in
Spark 4.1 (``ZipWith``, ``ArrayAggregate``): whole-stage codegen does
not compile them, and they run interpreted inside the stage.  Do not
unroll them into per-element arithmetic to get them compiled: a 64-term
unrolled, fully codegen'd euclidean kNN was slower (0.89 s against
0.42 s median), because every new query literal compiles a new class.
For dense multi-query matrix work (one query batch x one corpus
partition) ``distance_matrix`` is the numpy twin of ``distance``: the
same four metrics and the same zero-norm rule, as BLAS matrix math that
beats per-row expressions.  The two sum in different orders, so they
agree to rounding error, not bit for bit: on 1,000 random standard-
normal 64-d pairs per metric, 19% (dot_product) to 79% (cosine) of the
values were bit-equal and the largest difference was 5.7e-14
(manhattan, values near 50).  Oracle-facing queries round distances to
6 dp.

All arithmetic is performed in float64 regardless of the input array's
element type (the reference stores float32 but numpy upcasts its
accumulations; float64 here also keeps the DuckDB oracle comparable).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum(term: str) -> str:
    """Template: the left-fold sum of ``term`` over (x, y) = (q[i], v[i])."""
    return "aggregate(zip_with({q}, {v}, (x, y) -> " + term + "), 0.0D, (s, x) -> s + x)"


def _norm(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (s, x) -> s + x * x))"


_DOT = _sum("x * y")
# {q}/{v}: the operands as array<double>; {nq}/{nv}: their L2 norms
METRICS = {
    "euclidean": "sqrt(" + _sum("(x - y) * (x - y)") + ")",
    "cosine": "CASE WHEN {nq} = 0.0D OR {nv} = 0.0D THEN 1.0D "
              "ELSE 1.0D - " + _DOT + " / ({nq} * {nv}) END",
    "dot_product": "(- " + _DOT + ")",
    "manhattan": _sum("abs(x - y)"),
}


def vector_sql(values: Sequence[float]) -> str:
    """``values`` as one ``array<double>`` literal.  ``nan`` and ``inf``
    have no SQL literal: a non-finite value is rejected by position."""
    vals = [float(e) for e in values]
    for i, e in enumerate(vals):
        if not math.isfinite(e):
            raise ValueError(f"query vector value at position {i} is {e}; it must be finite")
    return "array(" + ", ".join(f"{e!r}D" for e in vals) + ")"


def _operand(x: str | Sequence[float]) -> tuple[str, str]:
    """One operand as (array<double> SQL, its L2 norm as SQL).  A query
    vector becomes one array literal, and its norm a literal folded left
    to right as the SQL aggregate folds it."""
    a = f"CAST({x if isinstance(x, str) else vector_sql(x)} AS ARRAY<DOUBLE>)"
    if isinstance(x, str):
        return a, _norm(a)
    acc = 0.0
    for e in x:
        acc = acc + float(e) * float(e)
    norm = math.sqrt(acc)
    # a norm past the double range has no literal: the aggregate stays
    return a, f"{norm!r}D" if math.isfinite(norm) else _norm(a)


def distance_sql(metric: str, q: str | Sequence[float], v: str | Sequence[float]) -> str:
    """``distance`` as SQL text, for callers that embed it in a larger
    expression."""
    try:
        template = METRICS[metric]
    except KeyError:
        raise ValueError(
            f"unknown metric {metric!r}; expected one of {sorted(METRICS)}"
        ) from None
    (a, na), (b, nb) = _operand(q), _operand(v)
    return template.format(q=a, v=b, nq=na, nv=nb)


def distance(metric: str, q: str | Sequence[float], v: str | Sequence[float]) -> Column:
    """Dispatch by metric name (enum parity with reference
    ``indexer.py:21-26``; validated like ``schemas/search.py:31-36``)."""
    return F.expr(distance_sql(metric, q, v))


def sq_euclidean_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a), len(b)) squared L2 distances, |a|^2 + |b|^2 - 2 a.b
    (BLAS-backed).  Unclamped: cancellation can leave a tiny negative."""
    return (a * a).sum(1)[:, None] + (b * b).sum(1)[None, :] - 2.0 * a @ b.T


def distance_matrix(metric: str, q: np.ndarray, v: np.ndarray) -> np.ndarray:
    """The (len(q), len(v)) float64 numpy twin of ``distance`` for the
    float64 matrices ``q`` and ``v``: the same metrics, the same
    zero-norm rule (cosine 1.0)."""
    if metric == "euclidean":
        return np.sqrt(np.maximum(sq_euclidean_matrix(q, v), 0.0))
    if metric == "manhattan":
        return np.abs(q[:, None, :] - v[None, :, :]).sum(-1)
    if metric == "dot_product":
        return -(q @ v.T)
    if metric == "cosine":
        denom = np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = (q @ v.T) / denom
        return np.where(denom == 0.0, 1.0, 1.0 - sim)
    raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")


def l2_norm(v: str | Sequence[float]) -> Column:
    """||v||_2."""
    return F.expr(_operand(v)[1])


def l2_normalize(v: str | Sequence[float]) -> Column:
    """v / ||v||_2, with zero-vector guard (returns v unchanged if norm=0).

    Reference: HNSW normalizes at insert/query (``hnsw.py:116-117,299-300``);
    LSH normalizes before hashing (``lsh.py:340``).
    """
    a, n = _operand(v)
    # the norm sits inside the lambda, so its variable must not shadow
    # a column the operand names
    return F.expr(f"CASE WHEN {n} = 0.0D THEN {a} ELSE transform({a}, __e -> __e / {n}) END")
