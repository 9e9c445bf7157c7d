"""Vector functions over array<float|double> embedding columns.

All built-in higher-order functions (JVM-evaluated, no Arrow hop).
``cosine_sim`` is the one shortlist scoring kernel: every exact rerank
in operators/similarity.py scores with it (``_cosine_top_k``, which
``_rerank`` calls for the shortlist paths). It was faster than an
einsum pandas UDF on x3 and x9 and than an in-order Arrow pairwise UDF
on x20, with identical rows. The one Arrow scoring path is the
all-pairs ``_query_cosine_scores`` (x1, rk4), pinned bit for bit to
this fold.

Accumulation is sequential left-to-right (F.aggregate), matching DuckDB's
list_dot_product fold order so differential tests agree bit-for-bit in
the common case.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i via zip_with + aggregate (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; 0 for zero-norm inputs."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_dist(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
