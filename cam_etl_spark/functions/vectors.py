"""Vector math over ``array<float>`` embedding columns — JVM-side via
``zip_with`` / ``aggregate`` (no Python in the hot path). Used by the
similarity-search operators.

The dot product, L2 norm and cosine are SQL text over column names,
parsed in the caller's one ``selectExpr``/``F.expr`` call: the same
expressions as Column/lambda chains cost ~15-30 py4j round-trips each,
and query BUILD time is on the bench's timed path. Every fold is a
sequential left-to-right ``aggregate`` seeded with the double ``0.0D``,
each element CAST to DOUBLE before it is multiplied — the operation
order the DuckDB oracles and ``mmr_select``'s driver-side greedy loop
replay. The cosine of two vectors is
``cosine_from_norms_sql(a, b, l2_norm_sql(a), l2_norm_sql(b))``; passing
projected norm columns instead computes each norm once per row rather
than once per pair, with identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, 0.0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def cosine_from_norms_sql(a: str, b: str, na: str, nb: str) -> str:
    # zero-norm guard: a zero vector has cosine 0.0, never NaN
    return (
        f"CASE WHEN ({na}) * ({nb}) = 0 THEN 0.0D "
        f"ELSE {dot_sql(a, b)} / (({na}) * ({nb})) END"
    )


def l2_sq(a: Column, b: Column) -> Column:
    """Squared euclidean distance, left-to-right fold (the order the
    DuckDB oracle's list_sum replays)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)
