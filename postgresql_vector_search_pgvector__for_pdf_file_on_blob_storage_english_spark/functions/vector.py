"""Vector distance expressions as native Spark higher-order functions.

These implement the pgvector operator family the reference relies on —
``<->`` (L2, the only one the reference uses: SSEOpenAIController.java:315-316),
plus the obvious siblings ``<=>`` (cosine) and ``<#>`` (negative inner
product) — entirely with ``zip_with``/``aggregate``/``transform`` so the
math stays on the JVM.  These higher-order functions are
``CodegenFallback`` expressions: they run interpreted per row inside an
otherwise code-generated stage.  They are the query registry's path,
not the search's: an exact L2 search over a list query is scored block
at a time by ``operators/knn.py``'s NumPy scorer.

Accumulation is sequential left-to-right (``aggregate`` semantics), in
double precision regardless of the storage type (float4 arrays, matching
pgvector's storage), so results are deterministic across partitionings —
a requirement for the DuckDB-oracle correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(x: Column) -> Column:
    return x.cast("double")


def _c(a: Column | str) -> Column:
    return F.col(a) if isinstance(a, str) else a


def _fold_indices(a: Column, step) -> Column:
    """Sequential left fold over 1..size(a) — a single aggregate over an
    index sequence.  ~2x faster than the zip_with formulation, which
    materializes an intermediate (element-pair) array per row-pair; the
    accumulation order (ascending index, left-to-right) is identical,
    so results are bit-for-bit unchanged."""
    return F.aggregate(F.sequence(F.lit(1), F.size(a)), F.lit(0.0), step)


def l2_distance_sq(a: Column | str, b: Column | str) -> Column:
    """Sum of squared differences, double precision, sequential order."""
    a, b = _c(a), _c(b)

    def step(acc: Column, i: Column) -> Column:
        d = _as_double(F.element_at(a, i)) - _as_double(F.element_at(b, i))
        return acc + d * d

    return _fold_indices(a, step)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """pgvector ``<->``: Euclidean distance sqrt(sum((x-y)^2))."""
    return F.sqrt(l2_distance_sq(a, b))


def dot_product(a: Column | str, b: Column | str) -> Column:
    a, b = _c(a), _c(b)
    return _fold_indices(
        a, lambda acc, i: acc + _as_double(F.element_at(a, i)) * _as_double(F.element_at(b, i))
    )


def negative_inner_product(a: Column | str, b: Column | str) -> Column:
    """pgvector ``<#>``: negative inner product (ascending = most similar)."""
    return -dot_product(a, b)


def vector_norm(a: Column | str) -> Column:
    a = _c(a)
    return F.sqrt(
        _fold_indices(
            a, lambda acc, i: acc + _as_double(F.element_at(a, i)) * _as_double(F.element_at(a, i))
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (vector_norm(a) * vector_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """pgvector ``<=>``: 1 - cosine similarity."""
    return F.lit(1.0) - cosine_similarity(a, b)


DISTANCE_FNS = {
    "l2": l2_distance,
    "l2sq": l2_distance_sq,
    "cosine": cosine_distance,
    "dot": negative_inner_product,
}
