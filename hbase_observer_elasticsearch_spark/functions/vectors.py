"""Vector math over ARRAY<FLOAT> columns, JVM-side via higher-order fns.

The sequential left-to-right `F.aggregate` fold gives bit-identical doubles
to DuckDB's `list_reduce`, making cosine similarities oracle-comparable
without rounding. For throughput-critical paths (IVF probe over millions of
vectors) `cosine_topk_pandas` offers the Arrow-batched NumPy alternative —
faster but float-order nondeterministic, so it backs rows-only queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential double dot product (deterministic fold order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sq_dist(a: Column, b: Column) -> Column:
    """Sequential double squared euclidean distance (zip_with diff², then
    a left-to-right fold)."""
    d2 = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(d2, F.lit(0.0), lambda acc, v: acc + v)


# SQL twins (DuckDB): identical sequential fold.
def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, "
        f"e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (x, y) -> x + y))"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"


def sql_sq_dist(a: str, b: str) -> str:
    """Squared euclidean distance, same sequential fold as the Spark twin
    `sq_dist` — bit-identical doubles, so the k-means argmin assignment
    is oracle-comparable."""
    d = f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> {d} * {d}), (x, y) -> x + y)"
    )
