"""Graph-analytics operators (gr1/gr2/gr3/gr4): independent pure-Python
recomputation at sf0.001 (no shared code with the operators — edges
from a direct DuckDB basket join, triangles by brute-force adjacency
intersection, k-core by literal peeling), plan-shape pins for the
degree-oriented triangle join, and gr2's kernel pins: the numpy peel
equals the above-cap JVM peel and builds without running a job."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import pytest


def _round6(x: float) -> float:
    """Half-away-from-zero 6dp round — Spark/DuckDB ROUND semantics
    (Python's round() is half-even and disagrees on exact halves)."""
    return math.floor(abs(x) * 1e6 + 0.5) / 1e6 * (1 if x >= 0 else -1)

from etl_project_spark.plans import assert_scalable
from etl_project_spark.registry import all_queries, get


@pytest.fixture(scope="module")
def pygraph(sf_dir):
    """Adjacency of the co-purchase graph, derived WITHOUT the
    operator's code path: DuckDB basket self-join over the parquet."""
    con = duckdb.connect()
    df = con.sql(
        f"""
        WITH basket AS (
            SELECT DISTINCT l_orderkey okey, l_partkey pkey
            FROM read_parquet('{sf_dir}/lineitem.parquet')
        )
        SELECT a.pkey a, b.pkey b FROM basket a
        JOIN basket b ON a.okey = b.okey AND a.pkey < b.pkey
        GROUP BY 1, 2
        """
    ).df()
    adj: dict[int, set] = defaultdict(set)
    edges = set()
    for a, b in zip(df["a"], df["b"]):
        a, b = int(a), int(b)
        adj[a].add(b)
        adj[b].add(a)
        edges.add((a, b))
    return adj, edges


def test_gr1_matches_bruteforce_triangles(spark, sf_dir, pygraph):
    adj, edges = pygraph
    expect = {}
    for v in adj:
        nbrs = adj[v]
        t = 0
        for u in nbrs:
            # count common neighbors; each triangle at v counted twice
            t += len(nbrs & adj[u])
        expect[v] = (len(nbrs), t // 2)
    got = {
        int(r["pkey"]): (int(r["degree"]), int(r["n_tri"]))
        for r in all_queries()["gr1_node_triangles"](spark, sf_dir).collect()
    }
    assert got == expect


def test_gr2_matches_literal_peeling(spark, sf_dir, pygraph):
    from etl_project_spark.operators.graph import GR_KCORE_ROUNDS

    adj, edges = pygraph
    n_e, n_v = len(edges), len(adj)
    k = (3 * n_e) // (2 * n_v)
    alive = set(adj)
    expect = {}
    for r in range(1, GR_KCORE_ROUNDS + 1):
        deg = {v: sum(u in alive for u in adj[v]) for v in alive}
        drop = {v for v in alive if deg[v] < k}
        for v in drop:
            expect[v] = r
        alive -= drop
    for v in alive:
        expect[v] = GR_KCORE_ROUNDS + 1
    got = {
        int(r["pkey"]): int(r["layer"])
        for r in all_queries()["gr2_kcore_layers"](spark, sf_dir).collect()
    }
    assert got == expect


def test_gr2_kernel_matches_jvm_peel(spark, sf_dir, monkeypatch):
    """Below GR_BCAST_EDGE_CAP gr2 peels in one numpy kernel; with the
    cap forced to 0 the iterative JVM peel (the above-cap path, which
    nothing else in the suite reaches) runs on the same graph and must
    give the same (pkey, layer) rows."""
    from etl_project_spark.operators import graph

    fn = all_queries()["gr2_kcore_layers"]
    kernel_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
    monkeypatch.setattr(graph, "GR_BCAST_EDGE_CAP", 0)
    jvm = fn(spark, sf_dir)
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert len({layer for _, layer in kernel_rows}) > 1
    assert sorted(map(tuple, jvm.collect())) == kernel_rows


def test_gr2_build_runs_no_job(spark, sf_dir):
    """Once the edge memos are warm, building gr2 runs no Spark job:
    the peel is a lazy mapInPandas over a one-row seed, so all of its
    work lands in the action."""
    fn = all_queries()["gr2_kcore_layers"]
    fn(spark, sf_dir)  # fills the edge relation, |E| and edge-key memos
    sc = spark.sparkContext
    group = "test_graph:gr2_kcore_layers:build"
    sc.setJobGroup(group, "build")
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_gr3_profile_matches_closed_form(spark, sf_dir, pygraph):
    adj, edges = pygraph
    tri_total = (
        sum(
            len(adj[a] & adj[b])
            for a, b in edges
        )
        // 3
    )
    wedges = sum(d * (d - 1) // 2 for d in map(len, adj.values()))
    row = all_queries()["gr3_graph_profile"](spark, sf_dir).collect()[0]
    assert row["v_cnt"] == len(adj)
    assert row["e_cnt"] == len(edges)
    assert row["wedges"] == wedges
    assert row["n_triangles"] == tri_total
    assert row["transitivity"] == pytest.approx(
        _round6(3 * tri_total / wedges), abs=1e-9
    )


def test_triangle_plan_is_equi_join_only(spark, sf_dir):
    """The wedge-closing membership check must plan as an EQUI join on
    (least, greatest) — a nested-loop here would be quadratic in
    edges. Also no row-Python and no unpartitioned windows anywhere in
    the family."""
    for name in (
        "gr1_node_triangles",
        "gr2_kcore_layers",
        "gr3_graph_profile",
    ):
        df = all_queries()[name](spark, sf_dir)
        stats = assert_scalable(df, allow_quadratic=False)
        assert stats.unpartitioned_windows == 0, (name, stats.plan)


def test_gr_oracles_match_duckdb(spark, sf_dir):
    """End-to-end differential at sf0.001 inside the suite (the local
    sweep and driver cover sf0.01): row-set equality against the
    registered oracle."""
    con = duckdb.connect()
    for t in (
        "lineitem",
        "orders",
        "part",
        "customer",
        "region",
        "nation",
        "supplier",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name in (
        "gr1_node_triangles",
        "gr2_kcore_layers",
        "gr3_graph_profile",
    ):
        spec = get(name)
        spark_rows = {
            tuple(r) for r in spec.fn(spark, sf_dir).collect()
        }
        oracle_rows = {
            tuple(r)
            for r in con.sql(spec.oracle).df().itertuples(index=False)
        }
        assert spark_rows == oracle_rows, name


def test_gr4_matches_bruteforce_embeddedness(spark, sf_dir, pygraph):
    adj, edges = pygraph
    got = {
        (r["a"], r["b"]): (r["deg_a"], r["deg_b"], r["n_tri"], r["jaccard"])
        for r in all_queries()["gr4_edge_embeddedness"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == edges
    for (a, b), (da, db, nt, jc) in got.items():
        common = len(adj[a] & adj[b])
        assert (da, db, nt) == (len(adj[a]), len(adj[b]), common)
        denom = (da - 1) + (db - 1) - common
        want = 0.0 if denom == 0 else _round6(common / denom)
        assert jc == pytest.approx(want, abs=1e-9)
