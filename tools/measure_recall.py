"""Measure approximate-operator recall vs exact baselines and record it.

The x3 (sign-LSH bucketed), x4 (IVF nprobe) and x9 (PQ/ADC) top-k paths
are rows-only in the driver's differential gate (their output is defined
by the index, not by SQL-expressible math), so their quantitative signal
— set recall of (query, neighbor) pairs against x1's exact brute-force
top-k, the same metric the pytest floor asserts — is recorded here as a
committed artifact (RECALL.json) instead of living only inside a test
run. The dedup-side approximates are covered the same way: dd5b's
SimHash multi-probe as pair-recall vs the exact Hamming-ball join it is
proven equal to in pytest, dd4's MinHash-LSH as pair-recall vs dd8's
exact whole-corpus Jaccard pairs, and sd1's SemDeDup pruning as recall
of the exact cosine>=tau drop set.

Every metric is measured on the driver corpora (sf0.01, sf0.1 — near-
uniform embeddings / independent random documents, the WORST case for
any bucketed index: these figures are floors) AND on planted fixtures
with real structure (clustered embeddings, mutated near-dup document
families — the portrait), per VERDICT r5 #8 and r6 #7.

Usage: python tools/measure_recall.py [sf_dir ...]   (default sf0.01 sf0.1)
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

from etl_project_spark.registry import get  # noqa: E402
from etl_project_spark.session import get_spark  # noqa: E402


def pair_set(df, a: str, b: str) -> set[tuple]:
    return {(r[a], r[b]) for r in df.collect()}


def make_planted_fixture(
    path: str,
    n: int = 4000,
    dim: int = 64,
    k: int = 25,
    noise: float = 0.35,
    seed: int = 7,
    n_base_docs: int = 250,
    doc_len: int = 60,
) -> str:
    """Planted-structure fixture (VERDICT r5 #8, r6 #7): the driver
    corpus is near-uniform — embeddings sit at cosine ~0.5 with no
    cluster structure, documents share no near-dup families beyond the
    generator's own collisions — the WORST case for any cell/bucket
    index, so recall there is a floor, not a portrait.

    embeddings.parquet: k planted unit centers, each vector
    normalize(center + (noise/sqrt(dim))·N(0,I)) — within-cluster
    cosine ≈ 1/(1+noise²) ≈ 0.89, cross-cluster ≈ 0.

    documents.parquet: ``n_base_docs`` base documents of ``doc_len``
    distinct vocabulary words; each spawns 1-2 variants with m ∈ [1,8]
    scattered novel-token substitutions. One substitution kills ≤ 3 of
    the ~58 3-shingles, so 3-shingle Jaccard ≈ (58-3m)/(58+3m): m=1..4
    sits safely above dd8's tau=0.5, m=6 straddles it, m=8 falls below
    — the family EXERCISES the LSH s-curve instead of living at its
    easy extremes. Substitution positions are spaced ≥ 7 tokens so the
    shingle arithmetic is exact, and substituted tokens are globally
    novel so no accidental cross-family shingles appear.

    Fixed seed: byte-identical fixture every run (gitignored,
    regenerated)."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, k, size=n)
    X = centers[labels] + (noise / np.sqrt(dim)) * rng.standard_normal(
        (n, dim)
    )
    X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
    os.makedirs(path, exist_ok=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in X], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype("int32")),
        }
    )
    pq.write_table(tbl, f"{path}/embeddings.parquet")

    # planted near-dup document families
    vocab = [f"w{i:05d}" for i in range(5000)]
    texts: list[str] = []
    novel = 0
    for b in range(n_base_docs):
        base = [vocab[i] for i in rng.choice(len(vocab), doc_len, False)]
        texts.append(" ".join(base))
        for v in range(rng.randint(1, 3)):
            m = int(rng.randint(1, 9))  # 1..8 substitutions
            var = list(base)
            for j in range(m):
                var[(j * 7 + 3) % doc_len] = f"z{novel:06d}"
                novel += 1
            texts.append(" ".join(var))
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(
                [f"src_{i % 5}" for i in range(len(texts))]
            ),
            "n_chars": pa.array(
                [len(t) for t in texts], pa.int64()
            ),
        }
    )
    pq.write_table(docs, f"{path}/documents.parquet")
    return path


def ann_recall(spark, sf_dir: str) -> dict[str, dict]:
    """x3/x4/x9 (query, neighbor) set recall vs x1's exact top-k."""
    exact = pair_set(
        get("x1_topk_cosine_exact").fn(spark, sf_dir),
        "query_id",
        "neighbor_id",
    )
    out: dict[str, dict] = {}
    for name in (
        "x3_lsh_bucketed_topk",
        "x4_ivf_topk",
        "x9_pq_topk",
    ):
        approx = pair_set(
            get(name).fn(spark, sf_dir), "query_id", "neighbor_id"
        )
        out[name] = {
            "recall_at_k": round(len(approx & exact) / len(exact), 4),
            "exact_pairs": len(exact),
            "returned_pairs": len(approx),
        }
    # x19 composes x14's Voronoi pruning with x15's ADC over PLAN-TIME
    # Rademacher codebooks — hash-checkable by construction, but 16
    # random ±1 cells are a direction hash, not trained structure, so
    # its recall prices the REFERENCE-codebook coarse quantizer (the
    # same reason x17's signature-only row reads ~0.2 on these
    # near-uniform corpora). The production serving path with this
    # architecture is x4's trained centroids + x9's trained ADC (rows
    # above); the recall-1.0 deterministic serving reference is x18.
    x19 = pair_set(
        get("x19_ivfpq_serving_topk").fn(spark, sf_dir),
        "query_id",
        "neighbor_id",
    )
    out["x19_ivfpq_serving_topk"] = {
        "recall_at_k": round(len(x19 & exact) / len(exact), 4),
        "exact_pairs": len(exact),
        "returned_pairs": len(x19),
        "serving_path": False,
        "note": "reference-codebook price of the composed IVF+PQ"
        " pipeline; trained serving = x4/x9/x20, recall-1.0"
        " deterministic serving reference = x18",
    }
    # x20 swaps x19's random cells for km1's TRAINED integer-exact
    # Lloyd centroids — still hash-checked end to end; its recall
    # equals the probe-stage ceiling (shortlist-400 ADC loses nothing
    # at these corpora)
    x20 = pair_set(
        get("x20_ivfpq_trained_serving").fn(spark, sf_dir),
        "query_id",
        "neighbor_id",
    )
    out["x20_ivfpq_trained_serving"] = {
        "recall_at_k": round(len(x20 & exact) / len(exact), 4),
        "exact_pairs": len(exact),
        "returned_pairs": len(x20),
        "serving_path": True,
        "note": "trained (km1) coarse quantizer, residual-aware probe"
        " set (cells within 120% of nearest, floor 3), ADC shortlist"
        " 140/probe, exact rerank — hash-checked end to end",
    }
    # x17 rides the same metric with a different meaning: its Hamming
    # ranking is EXACT over the {X17_BITS} packed projections
    # (hash-green in the differential gate), so the raw row quantifies
    # what SIGN QUANTIZATION itself costs vs float cosine — a
    # compression-price DIAGNOSTIC, not a serving path; the rerank row
    # below prices the documented serving pipeline and is the figure
    # held to the >=0.9 bar
    approx = pair_set(
        get("x17_hamming_topk").fn(spark, sf_dir),
        "query_id",
        "neighbor_id",
    )
    out["x17_hamming_topk"] = {
        "recall_at_k": round(len(approx & exact) / len(exact), 4),
        "exact_pairs": len(exact),
        "returned_pairs": len(approx),
        "serving_path": False,
        "note": "signature-only compression price; serving uses"
        " the shortlist+rerank row",
    }
    out["x17_hamming_shortlist_rerank"] = x17_rerank_recall(
        spark, sf_dir, exact
    )
    return out


def x17_rerank_recall(
    spark, sf_dir: str, exact: set[tuple], shortlist: int = 400
) -> dict:
    """x17's DOCUMENTED serving pattern: the binary scan is the
    shortlist stage and exact cosine reranks — raw signature recall
    (the x17 row above) prices the compression alone, this row prices
    the full pipeline. Shortlist = {shortlist} binary candidates per
    query (2x PQ_SHORTLIST — the r10 depth that, with the 192-bit
    signatures, holds recall >= 0.9 on every fixture including the
    sf0.1 near-uniform floor), rerank by float cosine, take TOP_K;
    set recall vs x1. Signatures here re-derive the operator's
    {X17_BITS}-bit Rademacher projections independently (same md5
    planes, numpy only)."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        X17_QSCALE,
        _x17_planes,
    )

    rows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        .collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in rows])
    M = np.vstack([r["e"] for r in rows])
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    Q = np.floor(M * X17_QSCALE + 0.5).astype(np.int64)
    bits = Q @ _x17_planes().T > 0  # (n, X17_BITS) bool
    got: set[tuple] = set()
    for qi in np.nonzero(ids < N_QUERIES)[0]:
        ham = (bits != bits[qi]).sum(axis=1)
        cand = np.argsort(ham * len(ids) + np.arange(len(ids)))
        cand = [c for c in cand if ids[c] >= N_QUERIES][:shortlist]
        sims = Mn[cand] @ Mn[qi]
        order = np.argsort(-sims, kind="stable")[:TOP_K]
        for o in order:
            got.add((int(ids[qi]), int(ids[cand[o]])))
    return {
        "recall_at_k": round(len(got & exact) / len(exact), 4),
        "shortlist": shortlist,
        "exact_pairs": len(exact),
        "returned_pairs": len(got),
        "serving_path": True,
    }


def sd1_recall(spark, sf_dir: str) -> dict:
    """sd1 SemDeDup: fraction of the exact cosine>=tau dropped set the
    clustered pruning retains (cross-cluster pairs = loss)."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators import clustering as km

    emb_rows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        .collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in emb_rows])
    M = np.vstack([r["e"] for r in emb_rows])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    s = M @ M.T
    _, ib = np.nonzero(np.triu(s >= km.SD_TAU, k=1))
    exact_dropped = {int(ids[b]) for b in ib}
    pruned = {
        r["vec_id"]
        for r in get("sd1_semantic_dedup").fn(spark, sf_dir).collect()
    }
    return {
        "recall_vs_exact_drops": round(
            len(pruned & exact_dropped) / len(exact_dropped), 4
        )
        if exact_dropped
        else 1.0,
        "exact_drops": len(exact_dropped),
        "pruned": len(pruned),
    }


def dd5b_recall(spark, sf_dir: str) -> dict:
    """dd5b multiprobe vs the brute-force Hamming join over the same
    signatures: block-pigeonhole guarantees recall 1.0 within radius 7
    — recorded to keep the claim honest round over round."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.dedup import (
        simhash64,
        simhash_neardup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    probe = pair_set(simhash_neardup_pairs(spark, docs), "doc_a", "doc_b")
    sigs = simhash64(
        docs, F.array_distinct(F.split(F.lower(F.col("text")), " "))
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    brute = pair_set(
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 7),
        "doc_a",
        "doc_b",
    )
    return {
        "recall_vs_bruteforce": round(len(probe & brute) / len(brute), 4)
        if brute
        else 1.0,
        "bruteforce_pairs": len(brute),
        "returned_pairs": len(probe),
    }


def dd4_recall(spark, sf_dir: str) -> dict:
    """dd4 MinHash-LSH pair recall vs dd8's EXACT whole-corpus pair set
    (same metric, same threshold): quantifies the 32x4-band s-curve
    (≈0.87 at j exactly 0.5, -> 1 as j rises); dd4's precision is 1.0
    by construction (exact verify)."""
    exact_pairs = pair_set(
        get("dd8_jaccard_prefix_join").fn(spark, sf_dir), "doc_a", "doc_b"
    )
    lsh_pairs = pair_set(
        get("dd4_minhash_lsh_pairs").fn(spark, sf_dir), "doc_a", "doc_b"
    )
    return {
        "recall_vs_exact_pairs": round(
            len(lsh_pairs & exact_pairs) / len(exact_pairs), 4
        )
        if exact_pairs
        else 1.0,
        "exact_pairs": len(exact_pairs),
        "returned_pairs": len(lsh_pairs),
        "false_positives": len(lsh_pairs - exact_pairs),
    }


def measure_dir(spark, sf_dir: str) -> dict[str, dict]:
    entry = ann_recall(spark, sf_dir)
    entry["sd1_semantic_dedup"] = sd1_recall(spark, sf_dir)
    entry["dd5b_simhash_multiprobe"] = dd5b_recall(spark, sf_dir)
    entry["dd4_minhash_lsh_pairs"] = dd4_recall(spark, sf_dir)
    return entry


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = get_spark("measure-recall")
    out: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        out[sf] = measure_dir(spark, sf_dir)
    # recall on STRUCTURED data (see make_planted_fixture): same
    # metrics, same operators, planted geometry — ALL six approximate
    # operators, not just the ANN trio (VERDICT r6 #7).
    planted = make_planted_fixture(".planted_fixture")
    out["planted_n4000_k25"] = measure_dir(spark, planted)
    with open("RECALL.json", "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, ensure_ascii=False)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
