"""r13 optimization internals, pinned (the 16aa45a precedent): the
graph triangle kernel must enumerate exactly the JVM path's triangle
set, and the dedup family's cross-multiplied int64 tau bounds must
equal the exact rational ceil forms everywhere (the float forms they
replaced did NOT — fl(0.8)·sz overshoots ceil(4sz/5) whenever 5 | sz)."""

from __future__ import annotations

import math
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from etl_project_spark.registry import all_queries  # noqa: F401 (session fixture import path)


@pytest.fixture(scope="module")
def spark():
    from etl_project_spark.session import get_spark

    return get_spark("test-r13-internals", shuffle_partitions=4)


SF_DIR = "/root/testdata/sf0.001"


def _canon_triangles(rows):
    return sorted(tuple(sorted((r["u"], r["v"], r["w"]))) for r in rows)


def test_triangle_kernel_matches_jvm_intersect_path(spark):
    """_triangle_corners' numpy closed-wedge kernel (taken below
    GR_BCAST_EDGE_CAP) and the JVM array_intersect path (the
    above-cap fallback, forced here via n_edges=None) must enumerate
    the IDENTICAL triangle multiset — each triangle once, at its
    packed-minimum corner."""
    from etl_project_spark.operators.graph import (
        _copurchase_graph,
        _edge_common_outnbrs,
        _triangle_corners,
    )

    edges, n = _copurchase_graph(spark, SF_DIR)
    kernel = _triangle_corners(spark, SF_DIR, edges, n_edges=n)
    jvm = _edge_common_outnbrs(edges, n_edges=n).select(
        "u", "v", F.explode("common").alias("w")
    )
    k_rows = _canon_triangles(kernel.collect())
    j_rows = _canon_triangles(jvm.collect())
    assert len(k_rows) > 0  # the sf0.001 graph carries triangles
    assert k_rows == j_rows


def test_triangle_kernel_chunking_is_row_complete(spark):
    """The kernel chunks batches by cumulative pair count (max_pairs);
    chunk boundaries must fall BETWEEN adjacency rows, never inside
    one — verified by comparing against a 1-row-at-a-time reference on
    the real sf0.001 adjacency."""
    import numpy as np

    from etl_project_spark.operators.graph import (
        _GR_PACK,
        _copurchase_graph,
        _oriented,
    )

    edges, _ = _copurchase_graph(spark, SF_DIR)
    adj = (
        _oriented(edges)
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .collect()
    )
    pdf = edges.toPandas()
    keys = np.sort(
        (
            pdf["a"].to_numpy("int64") * _GR_PACK
            + pdf["b"].to_numpy("int64")
        )
    )
    ref = 0
    for r in adj:
        arr = np.asarray(r["nbrs"], dtype=np.int64)
        d = len(arr)
        if d < 2:
            continue
        ii, jj = np.triu_indices(d, k=1)
        pk = arr[ii] * _GR_PACK + arr[jj]
        pos = np.searchsorted(keys, pk).clip(max=len(keys) - 1)
        ref += int((keys[pos] == pk).sum())
    from etl_project_spark.operators.graph import _triangle_corners

    got = _triangle_corners(
        spark, SF_DIR, edges, n_edges=edges.count()
    ).count()
    assert got == ref


@pytest.mark.parametrize("num,den", [(1, 2), (4, 5), (2, 3), (9, 10)])
def test_int64_tau_bounds_equal_exact_rational_ceil(num, den):
    """Every cross-multiplied bound in dd8/dd11/dd12 must agree with
    the exact Fraction arithmetic for all sizes — including the sizes
    where the replaced float form diverges."""
    tau = Fraction(num, den)
    for sz in range(1, 2001):
        # prefix rule: rn <= sz - ceil(tau*sz) + 1
        exact_prefix_len = sz - math.ceil(tau * sz) + 1
        for rn in (1, exact_prefix_len, exact_prefix_len + 1, sz):
            in_prefix_int = sz * num <= (sz - rn + 1) * den
            assert in_prefix_int == (rn <= exact_prefix_len), (
                sz,
                rn,
                num,
                den,
            )
        # positional/length bound: x >= ceil(tau*sz) (integer x)
        bound = math.ceil(tau * sz)
        for x in (bound - 1, bound, bound + 1):
            assert (x * den >= sz * num) == (x >= bound)
        # dd8's alpha: x >= ceil(tau/(1+tau) * s) over pair size s
        alpha_frac = Fraction(num, num + den)
        s = 2 * sz + 1
        alpha = math.ceil(alpha_frac * s)
        for x in (alpha - 1, alpha, alpha + 1):
            assert (x * (num + den) >= s * num) == (x >= alpha)


def test_two_rounding_alpha_form_overshoots_where_int_form_is_exact():
    """Regression documentation for the hazard class the int64 rewrite
    removes. A SINGLE correctly-rounded constant times an integer
    cannot overshoot a ceil bound (relative error < half ulp), so the
    old dd11/dd12 ``ceil(fl(0.8)·sz)`` was safe — but dd8's alpha used
    the TWO-rounding constant ``fl(fl(tau)/(1+fl(tau)))``, whose
    compounded error CAN cross the integer: at tau = 1/5,
    ceil(fl(0.2/1.2)·18) = 4 while the true bound ceil(18/6) = 3 — a
    qualifying pair would be dropped before verification. The
    cross-multiplied int64 form is exact for every tau by
    construction (see the parametrized test above)."""
    p, q, s = 1, 5, 18
    tau = p / q
    two_rounding = tau / (1.0 + tau)
    exact = Fraction(p, p + q)
    assert math.ceil(two_rounding * s) > math.ceil(exact * s)
    bound = math.ceil(exact * s)
    # the int64 form used in dd8 agrees with the exact bound here
    assert (bound * (p + q) >= s * p) and not (
        (bound - 1) * (p + q) >= s * p
    )


def test_edge_key_broadcast_destroys_superseded_fingerprint(spark, tmp_path):
    """A new lineitem fingerprint under the same (application, sf_dir)
    replaces the memoized edge-key broadcast and destroys the old one.
    Runs on a copy of the fixture table: the committed fixtures are
    never rewritten."""
    import os
    import shutil

    from etl_project_spark.operators import graph

    sf = str(tmp_path)
    shutil.copy(f"{SF_DIR}/lineitem.parquet", f"{sf}/lineitem.parquet")
    edges = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    old = graph._edge_key_broadcast(spark, sf, edges)
    assert graph._edge_key_broadcast(spark, sf, edges) is old
    os.utime(f"{sf}/lineitem.parquet", ns=(0, 0))  # a regenerated table
    new = graph._edge_key_broadcast(spark, sf, edges)
    assert new is not old
    assert not old._jbroadcast.isValid() and new._jbroadcast.isValid()
    assert list(new.value) == [(1 << 32) + 2, (1 << 32) + 3]
    mine = [k for k in graph._GR_EDGE_KEYS if k[1] == sf]
    assert len(mine) == 1
    graph._GR_EDGE_KEYS.pop(mine[0]).destroy()
