"""Behavioral tests for the approximate operators (the ones the oracle
can't check): MinHash-LSH recall vs exact Jaccard, SimHash properties,
LSH/IVF top-k recall vs the exact brute-force ranking."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_project_spark.operators import dedup, similarity
from etl_project_spark.registry import get


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH candidates, exact-verified at 0.5, must recover almost all true
    shingle-Jaccard>=0.5 pairs and no false positives (verification is
    exact)."""
    docs = (
        dedup.load_table(spark, sf_dir, "documents")
        .select("doc_id", dedup._shingles(3).alias("sh"))
    )
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size("a.sh") + F.size("b.sh") - inter
    truth = _pairs(
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter.cast("double") / union).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )
    found = _pairs(get("dd4_minhash_lsh_pairs").fn(spark, sf_dir))
    assert found <= truth or not truth  # exact verification: no false positives
    if truth:
        recall = len(found & truth) / len(truth)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(truth)} pairs"


def test_simhash_deterministic_and_64bit(spark, sf_dir):
    out1 = get("dd5_simhash_buckets").fn(spark, sf_dir).collect()
    out2 = get("dd5_simhash_buckets").fn(spark, sf_dir).collect()
    assert sorted(map(str, out1)) == sorted(map(str, out2))


def test_exact_topk_self_consistent(spark, sf_dir):
    rows = get("x1_topk_cosine_exact").fn(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["nn_rank"])
    assert set(by_q) == set(range(similarity.N_QUERIES))
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, similarity.TOP_K + 1))


@pytest.mark.parametrize(
    "name", ["x3_lsh_bucketed_topk", "x4_ivf_topk", "x9_pq_topk"]
)
def test_approx_topk_recall(spark, sf_dir, name):
    """Approximate neighbors should overlap the exact top-k substantially
    (they search a subset of candidates, so rank<=k membership may differ;
    measure set recall of (query, neighbor) pairs)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in get("x1_topk_cosine_exact").fn(spark, sf_dir).collect()
    }
    got = get(name).fn(spark, sf_dir)
    approx = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    assert approx, "approximate search returned nothing"
    # the rerank scores with the cosine_sim fold, never a pandas UDF
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    recall = len(approx & exact) / len(exact)
    # near-random test embeddings are ANN's hardest case; x3's 32x6
    # config measures ~0.88 here (deterministic planes); IVF with
    # Lloyd-refined centroids measures ~0.80 at nprobe=2 (was ~0.46
    # on raw hash-sample seeds) — assert with margin per path.
    floor = 0.6
    assert recall >= floor, f"{name} recall {recall:.2f}"


def test_vector_functions_match_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame(
        [(a, b)], "a array<double>, b array<double>"
    )
    from etl_project_spark.functions.vectors import cosine_sim, dot, l2_dist, l2_norm

    row = df.select(
        dot(F.col("a"), F.col("b")).alias("dot"),
        l2_norm(F.col("a")).alias("na"),
        cosine_sim(F.col("a"), F.col("b")).alias("cos"),
        l2_dist(F.col("a"), F.col("b")).alias("dist"),
    ).collect()[0]
    na, nb = np.array(a), np.array(b)
    assert row["dot"] == pytest.approx(float(na @ nb))
    assert row["na"] == pytest.approx(float(np.linalg.norm(na)))
    assert row["cos"] == pytest.approx(
        float(na @ nb / (np.linalg.norm(na) * np.linalg.norm(nb)))
    )
    assert row["dist"] == pytest.approx(float(np.linalg.norm(na - nb)))


def _chain_and_random_edges():
    """A 60-node chain (one component, min 0) plus a path over the
    shuffled ids 100..159 (one component, min 100), and that path's
    first node."""
    import random

    chain = [(i, i + 1) for i in range(60)]  # one long path, min = 0
    rng = random.Random(42)
    nodes = list(range(100, 160))
    rng.shuffle(nodes)
    blob = [
        (min(a, b), max(a, b))
        for a, b in zip(nodes, nodes[1:])
        if a != b
    ]
    return chain, blob, nodes[0]


def test_connected_components_chain_and_random(spark):
    """large-star/small-star CC must label every node with its component
    min — including a 60-node chain, the O(diameter) worst case that a
    naive label-propagation loop crawls on."""
    chain, blob, first = _chain_and_random_edges()
    edges = spark.createDataFrame(chain + blob, "u long, v long")
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(edges).collect()
    }
    # union-find reference
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for u, v in chain + blob:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {n: find(n) for n in parent}
    assert got == want
    assert got[60] == 0 and got[first] == 100


def test_connected_components_kernel_matches_star_rounds(spark):
    """Given |E| at most the edge cap, connected_components labels in
    one single-task numpy kernel; its rows equal the star rounds' on
    the same graph."""
    chain, blob, _ = _chain_and_random_edges()
    edges = spark.createDataFrame(chain + blob, "u long, v long")
    kernel = dedup.connected_components(edges, n_edges=len(chain + blob))
    plan = kernel._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert sorted(map(tuple, kernel.collect())) == sorted(
        map(tuple, dedup.connected_components(edges).collect())
    )


def test_cc_kernel_labels_shuffled_chain_within_round_guard():
    """Root hooking on a 2^17-node chain with shuffled ids (naive
    min-label propagation needs tens of thousands of rounds on it)
    labels every node with the chain's minimum inside the 24-round
    guard the star path's scale smoke uses; disjoint 10-node chains
    keep their own minima. The guard still raises when too small."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 1 << 17
    ids = rng.permutation(n).astype(np.int64) * 3 + 5
    blocks = np.arange(10_000_000, 10_001_000, dtype=np.int64)
    links = blocks[(blocks % 10) != 9]
    u = np.concatenate([ids[:-1], links])
    v = np.concatenate([ids[1:], links + 1])
    order = rng.permutation(len(u))
    node, comp = dedup._cc_labels(u[order], v[order], max_rounds=24)
    in_chain = node < 10_000_000
    assert in_chain.sum() == n and (comp[in_chain] == 5).all()
    assert (comp[~in_chain] == node[~in_chain] // 10 * 10).all()
    assert len(node) == n + len(blocks)
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        dedup._cc_labels(u, v, max_rounds=1)


@pytest.mark.parametrize("name", ["dd7_dup_clusters", "dd9_canonical_keep"])
def test_lsh_components_star_path_matches_kernel(
    spark, sf_dir, name, monkeypatch
):
    """Below graph.GR_BCAST_EDGE_CAP the near-dup clusters come from
    the numpy kernel; with the cap forced to 0 the large-star/small-
    star rounds (the above-cap path) run on the same memoized pairs
    and must give the same rows."""
    from etl_project_spark.operators import graph

    fn = get(name).fn
    kernel = fn(spark, sf_dir)
    assert "MapInPandas" in kernel._jdf.queryExecution().executedPlan().toString()
    kernel_rows = sorted(map(tuple, kernel.collect()))
    monkeypatch.setattr(graph, "GR_BCAST_EDGE_CAP", 0)
    star = fn(spark, sf_dir)
    assert "MapInPandas" not in star._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, star.collect())) == kernel_rows


def test_dd7_build_runs_no_job(spark, sf_dir):
    """Once the pair memo is warm, building dd7 runs no Spark job: the
    components are a lazy mapInPandas over the memoized pairs, so all
    of the work lands in the action."""
    fn = get("dd7_dup_clusters").fn
    fn(spark, sf_dir)  # fills the pair relation and |E| memo
    sc = spark.sparkContext
    group = "test_dedup:dd7_dup_clusters:build"
    sc.setJobGroup(group, "build")
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_lsh_pairs_memo_evicts_superseded_fingerprint(spark, sf_dir, tmp_path):
    """A new documents fingerprint under the same sf_dir replaces the
    memoized pair relation and its |E| instead of keeping the old
    checkpoint referenced. Runs on a copy of the fixture table: the
    committed fixtures are never rewritten."""
    import os
    import shutil

    sf = str(tmp_path)
    shutil.copy(f"{sf_dir}/documents.parquet", f"{sf}/documents.parquet")
    old = dedup._lsh_pairs_graph(spark, sf)
    assert dedup._lsh_pairs_graph(spark, sf) is old
    os.utime(f"{sf}/documents.parquet", ns=(0, 0))  # a regenerated table
    new = dedup._lsh_pairs_graph(spark, sf)
    assert new is not old
    mine = [k for k in dedup._LSH_PAIRS_MEMO if k[0] == sf]
    assert len(mine) == 1
    want = sorted(map(tuple, dedup._lsh_pairs_memo(spark, sf_dir).collect()))
    pairs, n_edges = new
    assert sorted(map(tuple, pairs.collect())) == want
    assert n_edges == len(want) > 0
    del dedup._LSH_PAIRS_MEMO[mine[0]]


def test_simhash_multiprobe_exact_and_recall(spark, sf_dir):
    """Block-pigeonhole multi-probe must equal the brute-force Hamming
    join exactly (guaranteed recall within radius n_blocks-1), and must
    recover most planted Jaccard near-dup pairs."""
    docs = dedup.load_table(spark, sf_dir, "documents")
    got = _pairs(dedup.simhash_neardup_pairs(spark, docs))
    sigs = dedup.simhash64(docs, F.array_distinct(dedup._tokens()))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    brute = _pairs(
        sa.crossJoin(sb)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 7)
    )
    assert got == brute
    planted = _pairs(dedup.lsh_verified_pairs(spark, docs.select("doc_id", "text")))
    assert planted, "corpus has no planted near-dups"
    recall = len(got & planted) / len(planted)
    assert recall >= 0.8, f"multiprobe recall {recall:.2f} vs planted pairs"


def test_prefix_join_equals_lsh_verified_pairs(spark, sf_dir):
    """dd8 (exact prefix-filtered Jaccard join) == dd4 (MinHash-LSH
    verified pairs) on the test corpus: both are exact pair sets here —
    dd8 deterministically, dd4 because every planted near-dup sits far
    above the s-curve knee and verification removes false positives —
    so their outputs must agree pair for pair, value for value."""
    dd8 = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in get("dd8_jaccard_prefix_join").fn(spark, sf_dir).collect()
    }
    dd4 = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in get("dd4_minhash_lsh_pairs").fn(spark, sf_dir).collect()
    }
    assert dd8 == dd4


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    """MMR's selected set must (a) contain the single most relevant
    candidate first, (b) never repeat a vec_id within a query, and
    (c) have max pairwise similarity no higher than the plain top-k
    set's on average — the property the operator exists to buy."""
    mmr = similarity.x10_mmr_topk(spark, sf_dir)
    rows = mmr.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == similarity.N_QUERIES
    emb = {
        r["vec_id"]: r["e"]
        for r in similarity.load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        .collect()
    }
    import numpy as np

    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(
            a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))
        )

    def max_pair_sim(ids):
        return max(
            cos(emb[x], emb[y])
            for i, x in enumerate(ids)
            for y in ids[i + 1 :]
        )

    exact = similarity.x1_topk_cosine_exact(spark, sf_dir).collect()
    topk_by_q: dict[int, list] = {}
    for r in exact:
        topk_by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])

    diffs = []
    for qid, sel in by_q.items():
        sel.sort(key=lambda r: r["mmr_rank"])
        ids = [r["vec_id"] for r in sel]
        assert len(set(ids)) == len(ids) == similarity.MMR_K
        # rank 1 == argmax of the 6dp-ROUNDED relevance: within one
        # rounding step of the exact top-1's similarity
        qv = emb[qid]
        assert cos(qv, emb[ids[0]]) >= cos(qv, emb[topk_by_q[qid][0]]) - 2e-6
        # from rank 2 on, scores are non-increasing: the selected set
        # only grows (max-sim penalty is monotone) and the candidate
        # pool only shrinks. (rank1 -> rank2 CAN rise: negative
        # cosines make the penalty term positive.)
        scores = [r["mmr_score_e7"] for r in sel]
        assert all(
            s1 >= s2 for s1, s2 in zip(scores[1:], scores[2:])
        ), scores
        diffs.append(
            max_pair_sim(topk_by_q[qid][: similarity.TOP_K])
            - max_pair_sim(ids[: similarity.TOP_K])
        )
    # diversification helps on average across the query set
    assert sum(diffs) / len(diffs) >= 0


def test_ann_recall_eval_consistent_with_inputs(spark, sf_dir):
    """x12's relation is internally consistent (n_hits <= n_exact ==
    TOP_K, recall = n_hits/n_exact) and its mean recall equals a
    direct python recomputation from x1/x6 outputs."""
    from etl_project_spark.operators import similarity as sim

    rows = sim.x12_ann_recall_eval(spark, sf_dir).collect()
    assert rows
    exact: dict = {}
    for r in sim.x1_topk_cosine_exact(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx: dict = {}
    for r in sim.x6_rademacher_lsh_topk(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert {r.query_id for r in rows} == set(exact)
    for r in rows:
        assert r.n_exact == sim.TOP_K
        assert 0 <= r.n_hits <= r.n_exact
        assert r.n_approx == len(approx.get(r.query_id, set()))
        got = len(exact[r.query_id] & approx.get(r.query_id, set()))
        assert r.n_hits == got
        assert abs(r.recall - round(got / r.n_exact, 6)) < 1e-9


def test_leakage_safe_split_no_edge_straddles(spark, sf_dir):
    """smp7's defining property: no verified near-dup edge crosses a
    split boundary; cluster members share one split; fractions are
    hash-split-plausible at cluster granularity."""
    from etl_project_spark.operators import dedup as dd

    from etl_project_spark.catalog import load_table

    rows = dd.smp7_leakage_safe_split(spark, sf_dir).collect()
    split_of = {r.doc_id: r.split for r in rows}
    cluster_of = {r.doc_id: r.cluster_id for r in rows}
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = dd.lsh_verified_pairs(spark, raw).collect()
    assert edges, "fixture plants near-dup pairs"
    for e in edges:
        assert split_of[e.doc_a] == split_of[e.doc_b]
        assert cluster_of[e.doc_a] == cluster_of[e.doc_b]
    # every cluster maps to exactly one split
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # 90/5/5 at cluster level within loose binomial slack
    n = len(by_cluster)
    train = sum(
        1 for c, s in by_cluster.items() if s == {"train"}
    )
    assert 0.8 * n <= train <= n


def test_split_leakage_audit_story(spark, sf_dir):
    """cluster_hash strategy must report exactly zero straddling
    pairs; both strategies see the same pair universe and partition
    the whole corpus."""
    from etl_project_spark.operators.dedup import dq8_split_leakage_audit
    from etl_project_spark.catalog import load_table

    rows = {
        r.strategy: r
        for r in dq8_split_leakage_audit(spark, sf_dir).collect()
    }
    assert set(rows) == {"doc_hash", "cluster_hash"}
    n_docs = load_table(spark, sf_dir, "documents").count()
    for r in rows.values():
        assert r.n_train + r.n_val + r.n_test == n_docs
    assert rows["doc_hash"].n_pairs == rows["cluster_hash"].n_pairs
    assert rows["cluster_hash"].n_cross_pairs == 0
    assert 0 <= rows["doc_hash"].n_cross_pairs <= rows["doc_hash"].n_pairs


def test_x17_hamming_topk_matches_numpy(spark, sf_dir):
    """x17's packed multi-word popcount ranking must equal a
    from-scratch pure-Python recomputation: re-derive the md5
    Rademacher planes from their spec (not from the operator's
    cached matrix), quantize, project, brute-force Hamming, rank
    with the same (hamming, neighbor_id) tie-break. Integer
    arithmetic end-to-end, so the match is exact."""
    import hashlib
    import math

    import numpy as np

    from etl_project_spark.catalog import load_table

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    bits = similarity.X17_BITS
    dim = similarity.EMB_DIM
    planes = [
        [
            1
            if hashlib.md5(f"x17:{j},{d}".encode()).hexdigest()[0]
            in "89abcdef"
            else -1
            for d in range(dim)
        ]
        for j in range(bits)
    ]
    sig = {}
    for vid, v in emb.items():
        q = [math.floor(x * similarity.X17_QSCALE + 0.5) for x in v]
        sig[vid] = sum(
            1 << j
            for j, r in enumerate(planes)
            if sum(qi * ri for qi, ri in zip(q, r)) > 0
        )
    expect = set()
    queries = [v for v in sig if v < similarity.N_QUERIES]
    cands = [v for v in sig if v >= similarity.N_QUERIES]
    for q in queries:
        scored = sorted(
            ((bin(sig[q] ^ sig[c]).count("1"), c) for c in cands)
        )[: similarity.X17_K]
        for rank, (h, c) in enumerate(scored, start=1):
            expect.add((q, c, h, rank))
    got = {
        (r.query_id, r.neighbor_id, r.hamming, r.nn_rank)
        for r in get("x17_hamming_topk").fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_x18_shortlist_rerank_recovers_exact_topk(spark, sf_dir):
    """The binary-shortlist + exact-rerank serving pipeline must
    reproduce x1's exact top-k EXACTLY at fixture scale (the measured
    recall is 1.0 on every fixture, so any divergence here is a
    pipeline bug, not a recall shortfall) — while its stage-1 scan
    reads signatures, not float vectors."""
    got = {
        (r.query_id, r.neighbor_id, r.nn_rank)
        for r in get("x18_binary_shortlist_rerank")
        .fn(spark, sf_dir)
        .collect()
    }
    exact = {
        (r.query_id, r.neighbor_id, r.nn_rank)
        for r in get("x1_topk_cosine_exact").fn(spark, sf_dir).collect()
    }
    assert got == exact
    assert len(got) == similarity.N_QUERIES * similarity.TOP_K


def test_x19_ivfpq_pipeline_matches_python_replay(spark, sf_dir):
    """The ENTIRE IVF+PQ serving pipeline (cell assignment, probe
    selection, PQ encoding, LUT build, ADC within probed cells,
    shortlist, exact rerank) replayed independently in pure Python
    with the same sequential left-to-right float folds — the discrete
    output (query, neighbor, rank) must match exactly. Catches any
    stage composition bug the per-stage twins (x14, x15) can't see."""
    import math

    sim = similarity
    rows = (
        dedup.load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>"))
        .collect()
    )
    emb = {r[0]: list(r[1]) for r in rows}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    cen = [
        [float(v) for v in sim._ivf_ref_centroid(c)]
        for c in range(sim.IVF_REF_CELLS)
    ]
    cw = {
        (s, c): [float(v) for v in sim._pq_ref_codeword(s, c)]
        for s in range(sim.PQ_REF_M)
        for c in range(sim.PQ_REF_K)
    }
    d = sim.PQ_REF_DSUB
    cells, codes, luts = {}, {}, {}
    for vid, e in emb.items():
        ranked = sorted(
            ((fold_dot(e, cen[c]), -c) for c in range(sim.IVF_REF_CELLS)),
            reverse=True,
        )
        cells[vid] = [-negc for _, negc in ranked]
        codes[vid] = [
            max(
                ((fold_dot(e[s * d : s * d + d], cw[(s, c)]), -c)
                 for c in range(sim.PQ_REF_K))
            )[1] * -1
            for s in range(sim.PQ_REF_M)
        ]
        if vid < sim.N_QUERIES:
            luts[vid] = [
                fold_dot(e[s * d : s * d + d], cw[(s, c)])
                for s in range(sim.PQ_REF_M)
                for c in range(sim.PQ_REF_K)
            ]
    expect = set()
    for q in range(sim.N_QUERIES):
        probe = set(cells[q][: sim.IVF_REF_NPROBE])
        cand = [
            v for v in emb
            if v >= sim.N_QUERIES and cells[v][0] in probe
        ]
        adc = {}
        for v in cand:
            acc = 0.0
            for s in range(sim.PQ_REF_M):
                acc = acc + luts[q][s * sim.PQ_REF_K + codes[v][s]]
            adc[v] = acc
        short = sorted(cand, key=lambda v: (-adc[v], v))[: sim.X19_SHORTLIST]

        def cos(a, b):
            na, nb = math.sqrt(fold_dot(a, a)), math.sqrt(fold_dot(b, b))
            return fold_dot(a, b) / (na * nb) if na and nb else 0.0

        rer = sorted(short, key=lambda v: (-cos(emb[q], emb[v]), v))
        for rank, v in enumerate(rer[: sim.TOP_K], start=1):
            expect.add((q, v, rank))
    got = {
        (r.query_id, r.neighbor_id, r.nn_rank)
        for r in get("x19_ivfpq_serving_topk").fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_x20_trained_ivfpq_matches_python_replay(spark, sf_dir):
    """x20's ENTIRE pipeline replayed independently in pure Python —
    INCLUDING the km1 Lloyd training (int64 quantization, exact
    integer distances, packed dist*K+cl tie-breaks, floor(sum/n+0.5)
    centroid requantization), the nprobe cell selection, PQ encoding,
    ADC within probed cells, shortlist and exact rerank. The discrete
    output must match exactly — this is the strongest composition
    check in the suite (training + serving, no shared code with the
    operator)."""
    import math

    from etl_project_spark.operators import clustering as km

    sim = similarity
    rows = (
        dedup.load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>"))
        .collect()
    )
    emb = {r[0]: list(r[1]) for r in rows}
    q = {
        vid: [math.floor(x * km.KM_QSCALE + 0.5) for x in e]
        for vid, e in emb.items()
    }

    def idist(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    # --- independent Lloyd replay (km1's integer rules) ---
    cls = sorted(v for v in emb if v < km.KM_K)
    C = {c: q[c] for c in cls}
    for _ in range(km.KM_ITERS - 1):
        assign = {
            vid: min(cls, key=lambda c: idist(q[vid], C[c]) * km.KM_K + c)
            for vid in q
        }
        sums: dict[int, list] = {}
        counts: dict[int, int] = {}
        for vid, c in assign.items():
            s = sums.setdefault(c, [0] * km.KM_DIM)
            for i, x in enumerate(q[vid]):
                s[i] += x
            counts[c] = counts.get(c, 0) + 1
        cls = sorted(sums)
        C = {
            c: [math.floor(s / counts[c] + 0.5) for s in sums[c]]
            for c in cls
        }
    hard = {
        vid: min(cls, key=lambda c: idist(q[vid], C[c]) * km.KM_K + c)
        for vid in q
    }
    # residual-aware probe rule (r12): MIN_PROBES nearest by packed
    # key, UNION cells within MARGIN_PCT% of the nearest distance —
    # re-derived here with plain-Python integer arithmetic
    probes = {}
    for vid in q:
        if vid >= sim.N_QUERIES:
            continue
        ranked = sorted(
            cls, key=lambda c: idist(q[vid], C[c]) * km.KM_K + c
        )
        d1 = idist(q[vid], C[ranked[0]])
        sel = set(ranked[: sim.X20_MIN_PROBES]) | {
            c
            for c in cls
            if idist(q[vid], C[c]) * 100 <= d1 * sim.X20_MARGIN_PCT
        }
        probes[vid] = sel

    # --- PQ encode / LUT / ADC / shortlist / rerank (x19's folds) ---
    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    cw = {
        (s, c): [float(v) for v in sim._pq_ref_codeword(s, c)]
        for s in range(sim.PQ_REF_M)
        for c in range(sim.PQ_REF_K)
    }
    d = sim.PQ_REF_DSUB
    codes, luts = {}, {}
    for vid, e in emb.items():
        if vid >= sim.N_QUERIES:
            codes[vid] = [
                max(
                    ((fold_dot(e[s * d : s * d + d], cw[(s, c)]), -c)
                     for c in range(sim.PQ_REF_K))
                )[1] * -1
                for s in range(sim.PQ_REF_M)
            ]
        else:
            luts[vid] = [
                fold_dot(e[s * d : s * d + d], cw[(s, c)])
                for s in range(sim.PQ_REF_M)
                for c in range(sim.PQ_REF_K)
            ]
    expect = set()
    for qid in range(sim.N_QUERIES):
        probe = set(probes[qid])
        cand = [
            v for v in emb if v >= sim.N_QUERIES and hard[v] in probe
        ]
        adc = {}
        for v in cand:
            acc = 0.0
            for s in range(sim.PQ_REF_M):
                acc = acc + luts[qid][s * sim.PQ_REF_K + codes[v][s]]
            adc[v] = acc
        short = sorted(cand, key=lambda v: (-adc[v], v))[
            : sim.X20_SHORTLIST_PER_PROBE * len(probe)
        ]

        def cos(a, b):
            na, nb = math.sqrt(fold_dot(a, a)), math.sqrt(fold_dot(b, b))
            return fold_dot(a, b) / (na * nb) if na and nb else 0.0

        rer = sorted(short, key=lambda v: (-cos(emb[qid], emb[v]), v))
        for rank, v in enumerate(rer[: sim.TOP_K], start=1):
            expect.add((qid, v, rank))
    got = {
        (r.query_id, r.neighbor_id, r.nn_rank)
        for r in get("x20_ivfpq_trained_serving").fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_query_cosine_scores_match_cosine_sim_fold_bit_for_bit(
    spark, sf_dir
):
    """`_query_cosine_scores`, the all-pairs Arrow path of x1 and rk4,
    must score every (query, candidate) pair BIT-identically to the
    sequential `cosine_sim` fold, the kernel of every shortlist rerank
    — the two paths rank the same pairs in the same order."""
    import etl_project_spark.operators.similarity as S
    from etl_project_spark.functions.vectors import cosine_sim

    emb = S._vectors(spark, sf_dir)
    q, c = S._sides(emb)
    fold = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in F.broadcast(q)
        .crossJoin(c)
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("sim"),
        )
        .collect()
    }
    arrow = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in S._query_cosine_scores(
            S._candidates(emb), S._queries(emb)
        ).collect()
    }
    assert len(fold) > 0 and arrow.keys() == fold.keys()
    # exact float equality, pair by pair
    assert [p for p in fold if fold[p] != arrow[p]] == []


def test_ref_scan_kernel_matches_hof_fold_bit_for_bit(spark, sf_dir):
    """r12: the `_ref_scan` Arrow kernel replaced the interpreted
    higher-order-function IVF/PQ expressions; its cells, probes, codes
    and LUT values must be BIT-identical to the sequential
    zip_with+aggregate fold form it displaced (the driver-hash
    contract)."""
    from pyspark.sql import functions as F

    import etl_project_spark.operators.similarity as S
    from etl_project_spark.catalog import load_table
    from etl_project_spark.functions.vectors import dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # old HOF forms (the r8 constant-array expressions)
    cen = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in S._ivf_ref_centroid(c)])
            for c in range(S.IVF_REF_CELLS)
        ]
    )
    ranked = F.sort_array(
        F.transform(
            F.sequence(F.lit(0), F.lit(S.IVF_REF_CELLS - 1)),
            lambda c: F.struct(
                dot(F.col("e"), F.element_at(cen, (c + 1).cast("int"))).alias(
                    "dp"
                ),
                (-c).alias("negcell"),
            ),
        ),
        asc=False,
    )
    cb = S._pq_ref_codebook()
    d, k = S.PQ_REF_DSUB, S.PQ_REF_K

    def cw_dot(s, c):
        return dot(
            F.slice(F.col("e"), s * d + 1, d), F.element_at(cb, s * k + c + 1)
        )

    subspaces = F.sequence(F.lit(0), F.lit(S.PQ_REF_M - 1))
    codewords = F.sequence(F.lit(0), F.lit(S.PQ_REF_K - 1))
    codes = F.transform(
        subspaces,
        lambda s: -F.sort_array(
            F.transform(
                codewords,
                lambda c: F.struct(cw_dot(s, c).alias("dp"), (-c).alias("negc")),
            ),
            asc=False,
        )[0]["negc"],
    )
    lut = F.flatten(
        F.transform(
            subspaces, lambda s: F.transform(codewords, lambda c: cw_dot(s, c))
        )
    )
    old = (
        emb.select(
            "vec_id",
            (-ranked[0]["negcell"]).alias("cell"),
            F.transform(
                F.slice(ranked, 1, S.IVF_REF_NPROBE), lambda s: -s["negcell"]
            ).alias("probes"),
            codes.alias("codes"),
            lut.alias("lut"),
        )
        .orderBy("vec_id")
        .collect()
    )
    new = (
        S._ref_scan(emb, want_ivf=True, want_pq=True)
        .orderBy("vec_id")
        .collect()
    )
    assert len(old) == len(new) > 0
    for o, n in zip(old, new):
        assert o["vec_id"] == n["vec_id"]
        assert o["cell"] == n["cell"]
        assert list(o["probes"]) == list(n["probes"])
        assert list(o["codes"]) == list(n["codes"])
        # exact float equality — the kernel's fold-order contract
        assert o["lut"] == n["lut"]
