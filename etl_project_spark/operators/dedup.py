"""Deduplication operators over ``documents`` / ``embeddings`` —
extensions X1/X2 plus the training-data-pipeline suite: exact dedup,
token-set (fingerprint) dedup, exact n-gram Jaccard pairs, MinHash+LSH
candidate generation, SimHash, and embedding-cosine near-dup.

Design: everything is built-in-function DataFrame code (xxhash64,
higher-order array functions) — deterministic, JVM-side, no Python UDFs,
no pyspark.ml (its LSH randomness can't be reproduced by an oracle and
its dense-vector interop costs a serialization pass).

Scale notes:
- exact / fingerprint dedup: one hash shuffle on the key; at 100 TB key
  by a 128-bit hash of the text, never the text itself.
- MinHash LSH: signatures are fixed-width arrays (128 longs/doc); the
  band join shuffles (band_id, band_hash) keys only — no quadratic stage.
- SimHash: 64-bit signature/doc; near-dup = same signature bucket here,
  multi-probe (bit-flipped buckets) is the recall knob.
- cosine near-dup on embeddings: brute pair join at test scale; the LSH
  route in ``similarity.py`` is the 100 TB path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_project_spark.catalog import load_table
from etl_project_spark.registry import register

# --- shared token/shingle helpers (JVM-side) ---------------------------------


def _tokens() -> Column:
    return F.split(F.lower(F.col("text")), " ")


def _shingles(n: int = 3) -> Column:
    """Distinct word n-gram shingles, formed by zipping the token array
    against its n-1 shifted slices (lm1's pairing trick generalized):
    shingle_i = concat_ws(' ', t[i], t[i+1], ..., t[i+n-1]), with
    arrays_zip's null padding + concat_ws's null skipping reproducing
    the short-document edge case (docs with < n tokens yield their one
    partial shingle).

    Deliberately NOT transform(sequence(0, size-n), i -> slice(toks, i,
    n)): that lambda captures the token-split expression, CollapseProject
    inlines the split INTO the lambda body, and the split re-executes per
    sequence element — O(n_tokens^2) work per document AND a generated
    class big enough that Janino compile time dominates cold runs (the
    tx10 trap; measured in the extended bench at sf0.1: pp2 cold 47.8s
    -> 1.0s, dd4 18.1s -> 5.7s, dd7 7.9s -> 3.5s from this change).
    Here each slice is a top-level expression, so the split evaluates a
    constant number of times per row and the codegen stays small."""
    toks = _tokens()
    width = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[
            F.slice(toks, k + 1, width).alias(f"w{k}")
            for k in range(n)
        ]
    )
    return F.array_distinct(
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s[f"w{k}"] for k in range(n)]),
        )
    )


# One shingled-and-materialized relation (doc_id, sh, sz) serves the whole
# prefix-filtered set-similarity family — dd8 (Jaccard), dd11/dd12
# (containment) — instead of each operator scanning + shingling the corpus
# for itself (three full corpus reads where one suffices; VERDICT r8 #5).
# Memoized per Spark application and keyed on (sf_dir, parquet
# fingerprint) like the Lloyd-state memo (clustering.py): a regenerated
# fixture under the same path invalidates the entry, and a
# localCheckpoint is executor-local state that dies with its application,
# so entries from a previous application are dropped wholesale. At 100 TB
# the same role is played by a persisted parquet temp table the family's
# operators all read.
_SHINGLE_MEMO: dict[tuple, DataFrame] = {}
_SHINGLE_APP_ID: str | None = None


def _shingle_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared 3-shingle relation: (doc_id, sh array, sz), partitioned
    by doc_id and eagerly materialized (localCheckpoint) because the
    shingle projection's HOF lambdas defeat ReuseExchange (SURVEY
    §12.1) — every consumer would otherwise re-run the corpus scan and
    the shingling."""
    global _SHINGLE_APP_ID
    from etl_project_spark.catalog import table_fingerprint

    app_id = spark.sparkContext.applicationId
    if app_id != _SHINGLE_APP_ID:
        _SHINGLE_MEMO.clear()
        _SHINGLE_APP_ID = app_id
    key = (sf_dir, table_fingerprint(sf_dir, "documents"))
    got = _SHINGLE_MEMO.get(key)
    if got is not None:
        return got
    par = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(par, "doc_id")
        .select("doc_id", _shingles(3).alias("sh"))
    )
    sizes = docs.select(
        "doc_id", "sh", F.size("sh").alias("sz")
    ).localCheckpoint()
    _SHINGLE_MEMO[key] = sizes
    return sizes


# The verified near-dup PAIR relation (doc_a, doc_b, jaccard ≥ 0.5) over
# the documents table is consumed by eight operators (dd7 clusters, dd9
# canonical keep, dd10 graph stats, dq5/dq9 source diagnostics, smp7 /
# dq8 split audits, pp11 weighted keep) — each previously re-derived and
# re-persisted its own copy, so an operator's wall-time depended on
# whether a NEIGHBOR's still-cached plan fragments happened to be live
# (dd10 read 0.62 s after dd7/dd9 warmed the CacheManager but 1.7 s
# solo — the r8 "noise-shaped" drift was cache-hit luck, not noise).
# One memoized, materialized relation makes the sharing deterministic:
# the first consumer pays the MinHash/band/verify job, every later one
# reads executor-local blocks. dd4 — the FAMILY'S PRODUCER
# representative — deliberately still computes the relation fresh so
# its bench number keeps measuring the LSH computation itself, exactly
# like a real pipeline where one edge-building job feeds many
# consumers. At 100 TB this is the persisted pair table every dedup
# stage reads. The relation's row count |E| is memoized with it (the
# _GR_EDGES precedent): it gates connected_components' in-memory
# kernel without a count job per build. A new documents fingerprint
# for an sf_dir evicts the entry it supersedes, so a regenerated
# fixture leaves no stale checkpoint referenced.
_LSH_PAIRS_MEMO: dict[tuple, tuple[DataFrame, int]] = {}
_LSH_PAIRS_APP_ID: str | None = None


def _lsh_pairs_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """The memoized verified pair relation (doc_a, doc_b, jaccard),
    materialized once (eager localCheckpoint), and its count |E|."""
    global _LSH_PAIRS_APP_ID
    from etl_project_spark.catalog import table_fingerprint

    app_id = spark.sparkContext.applicationId
    if app_id != _LSH_PAIRS_APP_ID:
        _LSH_PAIRS_MEMO.clear()
        _LSH_PAIRS_APP_ID = app_id
    key = (sf_dir, table_fingerprint(sf_dir, "documents"))
    got = _LSH_PAIRS_MEMO.get(key)
    if got is not None:
        return got
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = lsh_verified_pairs(spark, raw).localCheckpoint()
    for stale in [k for k in _LSH_PAIRS_MEMO if k[0] == sf_dir]:
        del _LSH_PAIRS_MEMO[stale]
    _LSH_PAIRS_MEMO[key] = (pairs, pairs.count())
    return _LSH_PAIRS_MEMO[key]


def _lsh_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_pairs_graph(spark, sf_dir)[0]


def _lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd7's (node, component) labels over the memoized pair relation:
    every doc with a verified near-dup is labelled with its cluster's
    minimum doc_id; singletons are absent (callers coalesce to
    doc_id)."""
    pairs, n_edges = _lsh_pairs_graph(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    return connected_components(edges, n_edges=n_edges)


@register(
    "dd1_exact_dedup",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, text, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact dedup, keep-lowest-id: groupBy full text → min(doc_id).
    Deterministic survivor choice (unlike dropDuplicates' arbitrary row).
    At scale: group by xxhash64(text) and verify within hash groups."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    ).select("doc_id", "text", "n_copies")


@register(
    "dd2_fingerprint_dedup",
    oracle="""
    SELECT fingerprint, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
    FROM (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(str_split(lower(text), ' '))), ' '))
                   AS fingerprint
        FROM documents
    ) GROUP BY 1
    """,
)
def dd2_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-exact dedup on the sorted-token-set fingerprint: collapses
    word-order permutations and repetition, still a single hash shuffle on
    a 128-bit key."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens()))))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_docs"))
    )


@register(
    "dd3_jaccard_pairs",
    oracle="""
    WITH sets AS (
        SELECT doc_id, list_distinct(str_split(lower(text), ' ')) AS toks
        FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks)))
               AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks)))
          >= 0.5
    """,
)
def dd3_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (threshold 0.5) on a bounded
    slice — the ground-truth oracle for the MinHash path (dd4). The
    jaccard value is a ratio of exact integers, so it is bit-identical
    across engines.

    This quadratic form exists for verification only; production uses
    dd4's LSH candidates. |slice| = 200 docs → 19.9k pairs.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.array_distinct(_tokens()).alias("toks"))
    )
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


DD8_TAU = 0.5  # same threshold/metric as dd4 — dd8 is its exact twin
# tau as an exact rational (num, den): every prefix-length / positional
# / length bound cross-multiplies to pure int64 comparisons (r13,
# ADVICE r12 #1). Precision analysis (tests/test_r13_internals.py): a
# SINGLE correctly-rounded constant times an integer cannot overshoot
# a ceil bound (relative error < half ulp), so the old single-rounding
# forms were safe — but dd8's alpha used the TWO-rounding constant
# fl(fl(tau)/(1+fl(tau))), which provably overshoots for other taus
# (tau=1/5 at pair size 18 demands overlap 4 where the true bound is
# 3, silently dropping a qualifying pair before verification); it was
# safe at DD8_TAU=0.5 only because that constant happens to round
# DOWN. The int64 forms are exact for every tau by construction.
DD8_TAU_FRAC = (1, 2)
assert DD8_TAU_FRAC[0] / DD8_TAU_FRAC[1] == DD8_TAU


@register(
    "dd8_jaccard_prefix_join",
    # identical metric and threshold to dd4's oracle: exact quadratic
    # shingle-Jaccard pairs over the whole corpus
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
               / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
               AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
              / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
          >= {DD8_TAU}
    """,
)
def dd8_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT whole-corpus n-gram (3-shingle) Jaccard near-dup pairs at
    threshold {DD8_TAU} WITHOUT a quadratic stage — the prefix-filtered
    inverted-index self-join (the Vernica et al. / PPJoin candidate
    rule). Completes the Jaccard triangle: dd3 = bounded quadratic
    ground truth, dd4 = MinHash approximation (whose band collisions
    make recall probabilistic), dd8 = exact at corpus scale with a
    DETERMINISTIC completeness guarantee.

    The candidate rule: order every document's shingles by (global
    frequency asc, shingle) — a total order that puts each doc's
    RAREST shingles first — and index only each doc's first
    |A| - ceil(tau*|A|) + 1 shingles. Two sets with Jaccard >= tau
    must share an element inside both prefixes (else the overlap
    bound ceil(tau/(1+tau)*(|A|+|B|)) is violated), so the equi-join
    on PREFIX postings finds every qualifying pair, while frequent
    shingles — the quadratic blowup of a naive postings self-join —
    sit in almost no one's prefix. A symmetric length filter
    (tau <= |B|/|A| <= 1/tau) prunes at hash time. Shingles (not bare
    tokens) are the set universe deliberately: this corpus has a
    31-word vocabulary, so token prefixes can't discriminate
    (measured 3.7M candidates for 965k true pairs), while 3-gram
    prefixes are near-unique.

    Verification is reduce-side (Vernica's form): candidates join the
    per-doc shingle arrays and compute exact Jaccard via
    array_intersect in codegen — pairs x 1 rows, not pairs x tokens;
    the array side broadcasts at test scale and becomes a doc_id hash
    join at corpus scale. The jaccard value is a ratio of exact
    integers (bit-identical across engines, dd3/dd4 precedent)."""
    tau = DD8_TAU
    par = spark.sparkContext.defaultParallelism
    # a small corpus file is one split, and every stage here is
    # CPU-bound on few bytes (shingling, window, verify) — AQE's
    # byte-based coalescing would serialize them onto one task, so
    # parallelism is pinned: partition by doc_id up front (shingling
    # fans out AND the rarity window reuses the partitioning with no
    # further exchange)
    # ONE shared materialized shingle relation (memoized across the
    # dd8/dd11/dd12 family — see _shingle_sizes): it feeds the prefix
    # build AND both verify-side array lookups, and the shingle
    # projection's higher-order-function lambdas carry lambda-variable
    # ExprIds that plan canonicalization cannot normalize, so
    # ReuseExchange re-ran the corpus scan + shingling per consumer
    # (three times; SURVEY §12.1 — the known scale tax, now paid once
    # for the whole family). The checkpoint preserves the doc_id
    # partitioning, so the rarity window below still needs no exchange.
    num, den = DD8_TAU_FRAC
    sizes = _shingle_sizes(spark, sf_dir)
    post = sizes.select("doc_id", "sz", F.explode("sh").alias("s"))
    freq = post.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    by_rarity = Window.partitionBy("doc_id").orderBy("cnt", "s")
    # prefix rule rn <= sz - ceil(tau*sz) + 1, cross-multiplied to
    # pure int64 (r13, ADVICE r12 #1 — num*sz <= den*(sz - rn + 1) is
    # the exact equivalent with no float anywhere; see the
    # DD8_TAU_FRAC precision note for which float forms were fragile)
    in_prefix = F.col("sz") * num <= (F.col("sz") - F.col("rn") + 1) * den
    prefix = (
        # broadcast the frequency map: post keeps its doc_id
        # partitioning so the window needs no exchange. At corpus
        # scale the shingle vocabulary outgrows a broadcast and this
        # becomes a shuffle join on s — the window then re-shuffles by
        # doc_id, the standard two-exchange prefix build. rn (the
        # shingle's rank in the doc's rarity order) rides along for
        # the positional filter below.
        post.join(F.broadcast(freq), "s")
        .withColumn("rn", F.row_number().over(by_rarity))
        .filter(in_prefix)
        .select("doc_id", "sz", "s", "rn")
    )
    # ONE pre-partitioned prefix relation feeds BOTH sides of the
    # self-join, so neither side needs an EnsureRequirements exchange on
    # top (r3's plan exchanged the probe side separately); the shingle
    # subtree underneath is the sizes checkpoint, scanned — not
    # recomputed — per side. r13: the relation is MATERIALIZED
    # (localCheckpoint, preserves the hash(s) partitioning) — the
    # planner broadcasts one join side from size estimates, and a
    # BroadcastExchange cannot reuse the other side's shuffle Exchange,
    # so the whole freq-agg + rarity-window pipeline ran TWICE (the
    # r13 before-plan has two Window subtrees; after: one Window, the
    # checkpoint scanned per side).
    pref_s = prefix.repartition(par, "s").localCheckpoint()
    a = pref_s.alias("a")
    b = pref_s.alias("b")
    # PPJoin INDEX-prefix shortening (r13, Xiao et al. §indexing): when
    # the pair is oriented smaller-first by (sz, doc_id), the SMALL
    # side s of any qualifying pair satisfies O >= tau/(1+tau)·(sz_s +
    # sz_l) >= 2tau/(1+tau)·sz_s, so its first common element sits in
    # its first sz_s - ceil(2tau/(1+tau)·sz_s) + 1 rarest shingles —
    # a strictly shorter prefix than the probe bound (sz/3 vs sz/2 at
    # tau=0.5). The a-side therefore keeps only that short prefix
    # (int64 form: 2·num·sz <= (num+den)·(sz - rn + 1)); the b-side
    # keeps the regular prefix. Honest sf0.1 measurement: the a-side
    # posting relation drops 134.0k -> 90.1k rows but join rows
    # (131,671) and candidate pairs (124,979) are UNCHANGED — on this
    # corpus every match already sits inside the short prefix (the
    # positional filter killed the tail matches first), so the win is
    # the smaller probe relation, not candidate pruning; output pairs
    # byte-identical either way.
    a = a.filter(
        F.col("a.sz") * (2 * num)
        <= (F.col("a.sz") - F.col("a.rn") + 1) * (num + den)
    )
    # PPJoin positional filter (r12, Xiao et al.): a match at rarity
    # ranks (ra, rb) bounds the overlap by min(sz_a-ra, sz_b-rb) + 1,
    # which must reach ceil(tau/(1+tau)·(sz_a+sz_b)) for J >= tau —
    # purely conservative (only candidates that provably cannot
    # qualify are dropped, so the verified result set is unchanged;
    # measured at sf0.1: 310k -> 125k candidate pairs into the dedup
    # exchange and the verify joins, same 256 output pairs). r13: the
    # bound is cross-multiplied to pure int64 — overlap_ub·(num+den) >=
    # num·(sz_a+sz_b) ⟺ overlap_ub >= ceil(num(sz_a+sz_b)/(num+den))
    # for integer overlap_ub (tau/(1+tau) = num/(num+den)); no float
    # rounding can over- or under-shoot (ADVICE r12 #1).
    overlap_ub = (
        F.least(
            F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
        )
        + 1
    )
    pair_sz = F.col("a.sz") + F.col("b.sz")
    # smaller-first orientation (sz, doc_id) — the order that licenses
    # the a-side's short index prefix; output pairs re-canonicalize to
    # doc-id order below (Jaccard is symmetric, so the verified result
    # is unchanged)
    smaller_first = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & smaller_first
            # length filter: J >= tau forces sz_a >= tau·sz_b (the
            # other direction is implied by sz_a <= sz_b),
            # cross-multiplied to int64
            & (F.col("a.sz") * den >= F.col("b.sz") * num)
            & (overlap_ub * (num + den) >= pair_sz * num),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias(
                "doc_b"
            ),
        )
        # dedup FUSED into the verify-side partitioning: hash-partitioning
        # on doc_a alone satisfies the (doc_a, doc_b) aggregation's
        # clustering requirement, so this is ONE exchange where
        # .distinct().repartition(par, "doc_a") was two back-to-back.
        # Pinning par also keeps AQE's byte-based coalescing from
        # serializing the CPU-bound array-intersect verify (j10 lesson).
        # (r13 note: a PPJoin+-style per-pair suffix aggregate — count
        # prefix matches + max ranks, bound overlap by o_p +
        # min(sz−max_rn) — was prototyped and measured to prune ZERO of
        # the 125k sf0.1 candidates: 95% of pairs have exactly one
        # prefix match, where the aggregate bound equals the in-join
        # positional bound. Reverted to the plain dedup.)
        .repartition(par, "doc_a")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


N_HASHES = 128  # minhash permutations
N_BANDS = 32  # → r = 4 rows/band; s-curve threshold ≈ (1/32)^(1/4) ≈ 0.42


# Deterministic multiply-add permutation family over u64 (odd multipliers
# — a*h+b is a bijection of Z_2^64 when a is odd). Seeds fixed: reruns
# and both engines of every test see identical signatures.
_MH_A = (
    np.random.RandomState(7).randint(1, 2**62, N_HASHES).astype(np.uint64) * 2 + 1
)
_MH_B = np.random.RandomState(11).randint(0, 2**62, N_HASHES).astype(np.uint64)


def minhash_kernel(hashed_shingles) -> np.ndarray:
    """Pure numpy MinHash: int64 shingle hashes → 128 permutation minima
    (the per-doc unit of minhash_signatures; property-tested directly in
    tests/test_properties.py)."""
    h = np.asarray(hashed_shingles, dtype=np.int64).astype(np.uint64)
    if h.size == 0:
        h = np.zeros(1, dtype=np.uint64)
    vals = h[:, None] * _MH_A[None, :] + _MH_B[None, :]  # wraps mod 2^64
    return vals.min(axis=0).astype(np.int64)


def minhash_signatures(docs: DataFrame, shingles: Column) -> DataFrame:
    """(doc_id, sig array<bigint>) MinHash signatures.

    Split JVM/Python by what each is good at: xxhash64 of each shingle
    STRING runs JVM-side (codegen); the 128-permutation min runs as ONE
    numpy (shingles × 128) multiply-add per doc inside Arrow-batched
    mapInPandas. Spark's higher-order lambdas evaluate interpreted
    per-element — a pure-JVM formulation costs ~200M boxed evals at
    sf0.1 (≈60s); this kernel does the same work in vectorized u64
    arithmetic (<2s), and keeps generated-code size small (giant unrolled
    expressions were flooding the JIT code cache, deoptimizing OTHER
    queries in long sessions).
    """
    hashed = docs.select(
        "doc_id", F.transform(shingles, lambda s: F.xxhash64(s)).alias("hs")
    )

    def kernel(batches):
        for pdf in batches:
            sigs = [minhash_kernel(hs) for hs in pdf["hs"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return hashed.mapInPandas(kernel, schema="doc_id long, sig array<bigint>")


def lsh_verified_pairs(
    spark: SparkSession, raw: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """MinHash+LSH near-dup candidates, exact-verified: (doc_a, doc_b,
    jaccard) with jaccard ≥ threshold. The shared scale path behind dd4
    (pair listing) and dd7 (cluster resolution).

    Never materializes the quadratic pair space: the self-join runs on
    (band_id, band_hash) buckets. Recall at j≥0.5 with 32×4 bands ≈
    1-(1-0.5^4)^32 ≈ 0.87 by the s-curve (→1 as j grows); exact
    verification removes false positives entirely.
    """
    # The corpus arrives as one small parquet file → one input partition;
    # signature hashing is the CPU hot spot, so spread it across the
    # cluster first. (At 100 TB the scan is naturally many-partition and
    # this repartition disappears.)
    par = spark.sparkContext.defaultParallelism
    docs = raw.select("doc_id", _shingles(3).alias("sh")).repartition(
        par, "doc_id"
    )
    sig = minhash_signatures(docs, F.col("sh"))
    r = N_HASHES // N_BANDS
    # bands carry only (doc_id, band_id, band_hash) — 24 bytes/row — never
    # the shingle arrays (which would multiply the shuffle by 32×).
    # PERSIST: both sides of the self-join consume this frame; without it
    # the scan→shingle→minhash pipeline (the expensive part) runs twice.
    # At 100 TB the signatures are ~0.3% of the corpus — caching them is
    # the standard MinHash trade, and they spill to disk if memory-tight.
    bands = (
        sig.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                    lambda b: F.xxhash64(F.slice(F.col("sig"), b * r + 1, r)),
                )
            ).alias("band_id", "band_hash"),
        )
        .persist()
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # exact-verify only the surviving candidate pairs. Semi-join the raw
    # table down to candidate doc_ids BEFORE shingling: candidates ≪
    # corpus, so shingles are recomputed for a handful of docs instead of
    # re-deriving the whole corpus twice (which would double the job).
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = raw.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", _shingles(3).alias("sh")
    )
    sh_a = sh_cand.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh_cand.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    cand = cand.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dd4_minhash_lsh_pairs",
    # the oracle is the EXACT quadratic shingle-Jaccard pair join: LSH is
    # approximate in general (s-curve recall ≈0.87 right at j=0.5), but
    # every real near-dup corpus — including this one, where planted
    # pairs sit at j ≥ 0.9 — collides in some band with probability ≈1,
    # and exact verification removes all false positives, so the checked
    # output equals the exact pair set. jaccard is a ratio of exact ints:
    # bit-identical across engines.
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
               / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
               AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
              / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
          >= 0.5
    """,
)
def dd4_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 MinHash + LSH near-dup candidate pairs, verified with exact
    Jaccard — the scalable near-dedup: signature (128 mins of xxhash64
    over 3-token shingles) → 32 bands of 4 → band-hash bucket join →
    exact-verify candidates at threshold 0.5. See lsh_verified_pairs."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return lsh_verified_pairs(spark, raw)


_BITW = np.arange(64, dtype=np.uint64)


def simhash_kernel(hashed_tokens) -> int:
    """Pure numpy SimHash: int64 token hashes → 64-bit signature via
    per-bit ±1 votes (the per-doc unit of simhash64; property-tested in
    tests/test_properties.py)."""
    h = np.asarray(hashed_tokens, dtype=np.int64).astype(np.uint64)
    if h.size == 0:
        return 0
    ones = ((h[:, None] >> _BITW[None, :]) & np.uint64(1)).sum(axis=0)
    votes = 2 * ones.astype(np.int64) - len(h)  # (+1/-1 tally)
    sig = np.bitwise_or.reduce(
        np.where(votes > 0, np.uint64(1) << _BITW, np.uint64(0))
    )
    return int(sig.astype(np.int64))


def simhash64(docs: DataFrame, tokens: Column) -> DataFrame:
    """(doc_id, simhash) 64-bit SimHash: per-bit ±1 votes of
    xxhash64(token), sign → bit. Token hashing stays JVM-side (codegen);
    the 64-bit vote tally is one numpy (tokens × 64) reduction per doc in
    Arrow-batched mapInPandas — same JVM/Python split and same rationale
    as minhash_signatures (interpreted lambda fold over a 64-slot
    accumulator was ~100× slower and bloated generated code)."""
    hashed = docs.select(
        "doc_id", F.transform(tokens, lambda t: F.xxhash64(t)).alias("hs")
    )
    def kernel(batches):
        for pdf in batches:
            out = [simhash_kernel(hs) for hs in pdf["hs"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return hashed.mapInPandas(kernel, schema="doc_id long, simhash long")


@register("dd5_simhash_buckets", oracle=None)  # hash-defined — rows-only
def dd5_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, exact-collision form: 64-bit signature per
    document, bucketed on the whole signature; groups >1 are duplicate
    clusters. Recall beyond identical signatures comes from the
    multi-probe variant (dd5b_simhash_multiprobe).

    doc_ids goes out comma-joined (not array<long>): the driver's
    checker canonicalizes via pandas sort_values, which cannot hash
    raw array cells — same engine-neutral projection rule as mm3's
    hex frames."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    sigs = simhash64(docs, F.array_distinct(_tokens()))
    return (
        sigs.groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_list("doc_id")).cast("array<string>"),
                ",",
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash_neardup_pairs(
    spark: SparkSession,
    docs: DataFrame,
    max_hamming: int = 7,
    n_blocks: int = 8,
) -> DataFrame:
    """All document pairs whose SimHash signatures are within
    ``max_hamming`` bits — EXACTLY, without a quadratic join.

    Multi-probe via block pigeonhole: split the 64-bit signature into
    ``n_blocks`` equal blocks; two signatures within Hamming distance
    ``n_blocks - 1`` must agree on at least one whole block, so an
    equi-join on (block_id, block_value) yields a candidate superset
    with guaranteed recall, and bit_count(a XOR b) verifies exactly.
    This is the scalable equivalent of flip-k-bit bucket probing: one
    row per (doc, block) — 8 probes/doc — instead of C(64, k) flipped
    buckets per doc.

    Tuning at 100 TB: wider blocks (n_blocks=4 → 16-bit blocks,
    radius ≤ 3) keep buckets selective on billion-doc corpora; 8-bit
    blocks (radius ≤ 7) suit smaller corpora. Bucket skew is bounded by
    block cardinality (2^width); salt the join or pre-aggregate
    signatures (dedup within identical sigs first) if a degenerate
    corpus collapses many docs onto few signatures.
    """
    if 64 % n_blocks:
        raise ValueError("n_blocks must divide 64")
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming <= {n_blocks - 1}"
        )
    width = 64 // n_blocks
    mask = (1 << width) - 1
    sigs = simhash64(docs, F.array_distinct(_tokens())).persist()
    # (simhash >> s) & mask: arithmetic shift's sign-fill is masked off,
    # so this equals the logical-shift block value
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}),"
                f" b -> shiftright(simhash, b * {width}) & {mask})"
            )
        ).alias("block_id", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand


@register("dd5b_simhash_multiprobe", oracle=None)  # sig-defined — rows-only
def dd5b_simhash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash multi-probe near-dup pairs: every pair within Hamming
    distance 7 of each other's 64-bit signature, found via the
    block-pigeonhole candidate join (see simhash_neardup_pairs). Exact
    w.r.t. the signature metric — verified equal to the brute-force
    Hamming join in tests/test_dedup_similarity.py, with recall vs the
    planted Jaccard near-dups asserted alongside."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    return simhash_neardup_pairs(spark, docs)


# dd5c: the SimHash *selection rule* made engine-neutral. dd5/dd5b key
# bits off xxhash64 (the right production hash — JVM codegen, 64-bit,
# no allocation) which DuckDB cannot reproduce, so they carry rows-only
# driver checks plus in-Spark brute-force equality tests. This variant
# derives each token's 64 bits from two md5 digests (top bit of each
# hex nibble), which BOTH engines compute identically — the full
# vote-tally → sign → bucket pipeline gets a hash-matched differential
# check. Same algorithm, slower hash: keep xxhash64 at scale.
_SIMHASH_HI = "'8','9','a','b','c','d','e','f'"


def _md5_bit_votes_sql() -> str:
    cols = []
    for i in range(64):
        h, pos = ("h1", i + 1) if i < 32 else ("h2", i - 31)
        cols.append(
            f"SUM(CASE WHEN substr({h}, {pos}, 1) IN ({_SIMHASH_HI}) "
            f"THEN 1 ELSE -1 END) AS b{i}"
        )
    return ",\n               ".join(cols)


@register(
    "dd5c_simhash_md5_reference",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(list_distinct(str_split(lower(text), ' '))) AS t
        FROM documents
    ), h AS (
        SELECT doc_id, md5(t) AS h1, md5(t || '#') AS h2 FROM toks
    ), votes AS (
        SELECT doc_id,
               {_md5_bit_votes_sql()}
        FROM h GROUP BY doc_id
    ), sig AS (
        SELECT doc_id,
               CONCAT({", ".join(f"CASE WHEN b{i} > 0 THEN '1' ELSE '0' END" for i in range(64))})
                   AS simhash_bits
        FROM votes
    )
    SELECT simhash_bits, COUNT(*) AS n_docs,
           ARRAY_TO_STRING(LIST_SORT(LIST(doc_id)), ',') AS doc_ids
    FROM sig GROUP BY simhash_bits HAVING COUNT(*) > 1
    """,
)
def dd5c_simhash_md5_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash exact-collision buckets with md5-derived bit hashes —
    the differentially-checked reference for the dd5 selection rule
    (see module comment above). All JVM codegen: one explode of
    distinct tokens, two md5s per token, 64 conditional-sum aggregates
    in ONE hash-aggregate pass (partial map-side), signature assembled
    as a 64-char bit string, bucket groupBy. Two shuffles total."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens())).alias("t")
    )
    h = toks.select(
        "doc_id",
        F.md5("t").alias("h1"),
        F.md5(F.concat(F.col("t"), F.lit("#"))).alias("h2"),
    )
    hi = set("89abcdef")
    votes = [
        F.sum(
            F.when(
                F.substring("h1" if i < 32 else "h2", (i % 32) + 1, 1).isin(
                    *hi
                ),
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sig = F.concat(
        *[
            F.when(F.col(f"b{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(64)
        ]
    )
    return (
        h.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", sig.alias("simhash_bits"))
        .groupBy("simhash_bits")
        .agg(
            F.count("*").alias("n_docs"),
            # comma-joined for the driver's scalar-only canonicalizer
            # (same rule as dd5 / mm3)
            F.array_join(
                F.array_sort(F.collect_list("doc_id")).cast("array<string>"),
                ",",
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dd6_embedding_neardup",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id < 250
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
          >= 0.4
    """,
)
def dd6_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs on a bounded slice. Threshold
    0.4: the driver corpus plants no true embedding near-duplicates
    (max pairwise cosine ≈ 0.45), so a production-style 0.95 threshold
    would make the differential check vacuous (0 == 0 rows); 0.4 sits
    1e-5 clear of any pair, exercising ~14 real matches.
    Only ids are output (float similarity stays internal, so cross-engine
    ulp noise cannot perturb the hash).

    Physical strategy: the all-pairs cosine within a bucket is ONE
    numpy/BLAS matrix product inside applyInPandas — a pairwise
    expression join would evaluate interpreted higher-order-function
    folds per pair (HOFs don't participate in whole-stage codegen; the
    expression form measured 30x slower at sf0.1). Here the bucket is
    the whole bounded slice; the production path assigns LSH band ids
    as the bucket column (similarity.py), so each group is small and
    groups parallelize across executors — same kernel, 100 TB-safe."""
    import numpy as np
    import pandas as pd

    v = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 250)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
            F.lit(0).alias("bucket"),
        )
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.vstack(pdf["e"].to_numpy()[order])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sim = m @ m.T
        ia, ib = np.nonzero(np.triu(sim >= 0.4, k=1))
        return pd.DataFrame({"vec_a": ids[ia], "vec_b": ids[ib]})

    return v.groupBy("bucket").applyInPandas(pairs, "vec_a long, vec_b long")


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond").

    large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
      — hooks every larger neighbor to the local minimum.
    small-star(u): over edges directed large→small, N = smaller nbrs;
      m = min(N ∪ {u}); emit (v, m) for v ∈ N ∪ {u}, v ≠ m.

    Each round is one groupBy shuffle of (long, long) rows; alternation
    converges to per-component stars in O(log n) rounds, independent of
    graph diameter (the fix for chain-shaped duplicate clusters).

    r12: only the small-star half ends in dropDuplicates — the
    large-star output feeds straight into small-star's collect_set,
    which dedupes the SET identically, so the old large-star
    dropDuplicates was a full-edge-relation exchange per round that
    changed nothing downstream (guide §2.4: a `distinct` on data the
    next aggregate re-dedupes anyway). Small-star keeps it: its output
    is the round's checkpointed relation, and the fixpoint signature
    (count + bit_xor) needs canonical rows.
    """
    if large:
        nbrs = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        grouped = nbrs.groupBy("u").agg(F.collect_set("v").alias("vs"))
        m = F.least(F.array_min("vs"), F.col("u"))
        out = grouped.select(
            F.explode(
                F.filter("vs", lambda x: x > F.col("u"))
            ).alias("nu"),
            m.alias("nv"),
        )
        return out.select(F.col("nu").alias("u"), F.col("nv").alias("v"))
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    grouped = directed.groupBy("u").agg(F.collect_set("v").alias("vs"))
    m = F.array_min("vs")  # all neighbors < u here
    out = grouped.select(
        F.explode(F.array_union("vs", F.array("u"))).alias("nu"),
        m.alias("nv"),
    ).filter(F.col("nu") != F.col("nv"))
    return out.select(
        F.col("nu").alias("u"), F.col("nv").alias("v")
    ).dropDuplicates()


def _cc_labels(
    u: np.ndarray, v: np.ndarray, max_rounds: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Root-hooking connected components over the edge arrays (u, v):
    returns (node, component) for every endpoint, component = the
    minimum node id of its component.

    Nodes map to dense indices in id order, so a component's minimum
    id is its minimum index. Each round hooks, for every edge whose
    endpoint roots differ, the larger root onto the smaller
    (np.minimum.at keeps the smallest offer per root), pointer-jumps
    parent = parent[parent] until every node points at its root, and
    drops the edges now inside one root. parent[i] <= i holds
    throughout, so the forest has no cycles and a component's minimum
    index is never hooked: it ends as the component's one root."""
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u) :]
    parent = np.arange(len(nodes))
    rounds = 0
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return nodes, nodes[parent]
        rounds += 1
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"connected_components: no fixpoint after {max_rounds} rounds"
            )
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def connected_components(
    edges: DataFrame,
    max_rounds: int | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list (u, v) →
    (node, component) with component = min node id reachable. Nodes
    that appear in no edge are absent.

    Two physical paths, chosen by ``n_edges`` (the caller's known
    |E|) against graph.GR_BCAST_EDGE_CAP:

    - ``n_edges`` given and at most the cap: one lazy mapInPandas over
      ``edges.coalesce(1)`` runs _cc_labels in a single task. Building
      the DataFrame runs no Spark job; the action is one single-task
      job. |E| int64 pairs (80 MB at the cap) fit in one task. The
      kernel hooks ROOTS, not labels: min-label propagation with
      shortcutting needs O(diameter) rounds on a chain. On a
      2^17-node chain with shuffled ids (4-vCPU VM) two min-label
      variants took 22,676 rounds (47 s) and 56,396 rounds (148 s);
      root hooking took 11 rounds (0.05 s).
    - otherwise (no count given, or above the cap): distributed
      large-star/small-star alternation until the edge set reaches its
      fixpoint (a star per component: every node points at the
      component minimum). One driver-side (count, checksum) action per
      round — O(log n) rounds total, vs O(diameter) for naive label
      propagation.

    ``max_rounds`` is a convergence guard on either path: raise
    instead of looping forever if the fixpoint isn't reached (a bug or
    an adversarial graph would otherwise burn the cluster silently);
    the 10M-row scale smoke pins the star path's round count under it
    on a diameter-2^17 chain, the shape that makes naive propagation
    unusable.

    Each star round ends in ``localCheckpoint``, not ``persist``:
    large-star references the round's input TWICE (edges ∪ reversed
    edges), so the logical plan doubles per round — persist caches
    *data* but keeps the full lineage, and after ~15 rounds the
    exponential plan tree OOMs the driver just rendering plan strings
    (caught by the chain scale smoke). Checkpointing truncates the
    plan to a leaf each round. On a cluster with executor churn, swap
    in reliable ``checkpoint()`` + ``setCheckpointDir`` — same
    contract.
    """
    from etl_project_spark.operators import graph

    if n_edges is not None and n_edges <= graph.GR_BCAST_EDGE_CAP:

        def kernel(batches):
            cols = [(p["u"].to_numpy(), p["v"].to_numpy()) for p in batches]
            if cols:
                node, comp = _cc_labels(
                    np.concatenate([c[0] for c in cols]),
                    np.concatenate([c[1] for c in cols]),
                    max_rounds,
                )
                yield pd.DataFrame({"node": node, "component": comp})

        return (
            edges.select("u", "v")
            .coalesce(1)
            .mapInPandas(kernel, "node long, component long")
        )
    prev_sig, rounds = None, 0
    while True:
        rounds += 1
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"connected_components: no fixpoint after {max_rounds} rounds"
            )
        edges = _star_round(edges, large=True)
        # eager: one job materializes the round, lineage resets to a leaf;
        # superseded rounds' blocks are freed by the ContextCleaner
        edges = _star_round(edges, large=False).localCheckpoint()
        # bit_xor, not sum: order-insensitive and can't overflow under ANSI
        row = edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("chk"),
        ).first()
        sig = (row["n"], row["chk"])
        if sig == prev_sig:
            break
        prev_sig = sig
    stars = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    # the component roots have no outgoing star edge — add (root, root)
    roots = edges.select(
        F.col("v").alias("node"), F.col("v").alias("component")
    ).distinct()
    return stars.union(roots)


# Exact transitive closure over the same 3-token-shingle Jaccard edge
# relation the Spark side derives via MinHash LSH; yields
# (doc_id, cluster_id). Shared by the dd7 and dd9 oracles.
_CC_CLUSTERS_SQL = """
    WITH RECURSIVE toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks
    ), edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
              / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
              >= 0.5
    ), all_edges AS (
        SELECT u, v FROM edges
        UNION SELECT doc_id, doc_id FROM sh
    ), reach(u, v) AS (
        SELECT u, v FROM all_edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN all_edges e ON r.v = e.u
    )
    SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
"""


@register(
    "dd7_dup_clusters",
    oracle=_CC_CLUSTERS_SQL,
)
def dd7_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution at scale, over the WHOLE corpus (no
    bounded slice): near-dup edges from the MinHash-LSH candidate path
    (lsh_verified_pairs — never a quadratic all-pairs join) →
    connected components → every doc labeled with its cluster's
    minimum doc_id (the canonical survivor a dedup pipeline keeps).
    Singletons are their own cluster.

    Shape: the components come from the memoized pair relation and its
    memoized |E| (_lsh_components). Below graph.GR_BCAST_EDGE_CAP edges
    they are one lazy single-task mapInPandas (connected_components'
    root-hooking kernel), so once the memo is warm, building dd7 runs
    no Spark job; above the cap the large-star/small-star rounds run
    while the DataFrame is built.

    The oracle is the exact transitive closure over the same shingle-
    Jaccard ≥ 0.5 edge relation. LSH recall at the 0.5 boundary is ≈0.87
    per band s-curve, →1 as similarity grows; on real near-dup corpora
    (including this one, where every planted pair sits at j ≥ 0.9) the
    candidate set recovers every edge, and cluster labels — which only
    need connectivity, not every edge — agree exactly."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    comp = _lsh_components(spark, sf_dir)
    return (
        raw.select("doc_id")
        .join(comp, raw.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )


@register(
    "dd9_canonical_keep",
    oracle=f"""
    WITH clusters AS ({_CC_CLUSTERS_SQL}),
    member AS (
        SELECT cluster_id, d.doc_id, d.n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id
                   ORDER BY d.n_chars DESC, d.doc_id
               ) AS rk
        FROM clusters JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           COUNT(*) AS n_members,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
           MAX(CASE WHEN rk = 1 THEN n_chars END) AS keep_n_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM member
    GROUP BY cluster_id
    HAVING COUNT(*) > 1
    """,
)
def dd9_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection for near-dup clusters: for
    every dd7 cluster with >1 member, keep the highest-QUALITY copy
    (longest n_chars, doc_id tie-break) rather than dd7's min-doc_id
    convention — the real "which copy survives" policy of a dedup
    pipeline (quality-first keep, e.g. the least-truncated mirror of a
    crawled page). Output is one row per non-singleton cluster: the
    kept doc, member count, and the byte mass the collapse removes.

    Shape: dd7's LSH → connected-components labels (never all-pairs;
    below the edge cap one single-task root-hooking kernel over the
    memoized pairs, above it the large-star/small-star rounds)
    joined to the doc metadata, then ONE per-cluster aggregate —
    max_by(struct(n_chars, -doc_id)) picks the representative inside
    the same hash aggregate that counts members, so there is no rank
    window and no second shuffle: map-side partials collapse each
    cluster's members before the exchange. At 100 TB cluster sizes are
    bounded (duplicate families), so the aggregate state is tiny;
    singletons are filtered AFTER the aggregate (HAVING n > 1), which
    at scale should become a semi-join against the edge endpoints to
    skip the singleton mass entirely. Reference parity: extension
    scope (SURVEY §2h X1/X2 dedup)."""
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    comp = _lsh_components(spark, sf_dir)
    labeled = (
        raw.select("doc_id", "n_chars")
        .join(comp, raw.doc_id == comp.node, "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    # keep = lexicographically-max (n_chars, -doc_id): longest wins,
    # smallest doc_id on ties — one struct max, no rank window
    keep = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            keep.alias("k"),
            F.sum("n_chars").alias("total_chars"),
        )
        .filter(F.col("n_members") > 1)
        .select(
            "cluster_id",
            "n_members",
            (-F.col("k.neg_id")).alias("keep_doc_id"),
            F.col("k.n_chars").alias("keep_n_chars"),
            "total_chars",
        )
    )


@register(
    "dd10_dup_graph_stats",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks
    ), edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
              / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
              >= 0.5
    ), deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v AS node FROM edges)
        GROUP BY node
    ), tri AS (
        SELECT COUNT(*) AS t
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree,
           (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
           ROUND(3.0 * (SELECT t FROM tri)
                 / (SELECT SUM(d * (d - 1) / 2.0) FROM deg), 6)
               AS global_clustering
    """,
)
def dd10_dup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural diagnostics of the near-dup graph — the health check
    a dedup pipeline runs BEFORE collapsing clusters: node/edge counts,
    max degree (a template or boilerplate hub shows up as a high-degree
    node), triangle count, and the global clustering coefficient
    (3·triangles / wedges — near 1 means tight mirror families, near 0
    means chained false merges from transitive closure). Same LSH edge
    relation as dd4/dd7 (doc_a < doc_b, verified Jaccard ≥ 0.5; dd4's
    exact-pair hash match pins that LSH recovers every edge on this
    corpus, so the counts are exact, not approximate).

    Shape: distributed node-iterator triangle counting — edges joined
    to edges on (e1.v = e2.u) then closed against a third edge scan:
    two hash shuffles keyed on endpoints, work proportional to
    Σ wedges, never nodes². Degrees are one endpoint-union aggregate.
    All stats reduce to single rows and cross-join — O(1) output at
    any corpus size; at 100 TB the wedge join is the only heavy stage
    and is bounded by duplicate-family mass (the corpus-sized
    singleton set never enters the edge relation)."""
    # the shared materialized pair relation serves all three consumers
    # (degrees + two triangle sides) from executor-local blocks
    e = _lsh_pairs_memo(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    nstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("d").alias("max_degree"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2.0).alias("_wedges"),
    )
    estats = e.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tristats = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        nstats.crossJoin(estats)
        .crossJoin(tristats)
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("_wedges"), 6
            ).alias("global_clustering"),
        )
    )


@register(
    "dq5_neardup_rate_by_source",
    oracle=f"""
    WITH clusters AS ({_CC_CLUSTERS_SQL}),
    ex AS (
        SELECT doc_id,
               CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY text)
                    THEN 1 ELSE 0 END AS ex_rm
        FROM documents
    ), nd AS (
        SELECT doc_id,
               CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END AS nd_rm
        FROM clusters
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ex_rm) AS BIGINT) AS n_exact_removable,
           CAST(SUM(nd_rm) AS BIGINT) AS n_neardup_removable,
           ROUND(CAST(SUM(ex_rm) AS DOUBLE) / COUNT(*), 6) AS exact_rate,
           ROUND(CAST(SUM(nd_rm) AS DOUBLE) / COUNT(*), 6) AS neardup_rate
    FROM documents JOIN ex USING (doc_id) JOIN nd USING (doc_id)
    GROUP BY source
    """,
)
def dq5_neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rates per SOURCE — the datasheet slice dq4 lacks:
    for each source, how many docs an exact-dedup pass would remove
    (keep-lowest-id per identical text) and how many a NEAR-dup pass
    would remove on top (keep the dd7 cluster representative; dd7's
    label IS the cluster's min doc_id, so removable ⟺ doc_id ≠
    cluster_id — no second per-cluster aggregate needed). The
    which-source-is-polluted diagnostic that decides crawl re-weighting
    before training.

    Shape: exact-dup removability from one groupBy(text) keep-min
    relation joined back (at 100 TB both sides key on xxhash64(text),
    never raw text — dd1's note); near-dup removability from dd7's
    LSH→CC labels (bounded edge relation; one in-memory kernel pass
    below the edge cap, O(log n) star rounds above it); one
    per-source aggregate ends the plan, O(#sources) rows out. The
    corpus is scanned once for text hashing and once inside the LSH
    path; both are full-scan-then-shrink, no quadratic stage."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    keep = docs.groupBy("text").agg(F.min("doc_id").alias("keep_id"))
    ex = docs.join(keep, "text").select(
        "doc_id",
        "source",
        (F.col("doc_id") != F.col("keep_id")).cast("int").alias("ex_rm"),
    )
    comp = _lsh_components(spark, sf_dir)
    nd = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            (
                F.col("doc_id")
                != F.coalesce(F.col("component"), F.col("doc_id"))
            )
            .cast("int")
            .alias("nd_rm"),
        )
    )
    return (
        ex.join(nd, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ex_rm").alias("n_exact_removable"),
            F.sum("nd_rm").alias("n_neardup_removable"),
            F.round(
                F.sum("ex_rm").cast("double") / F.count(F.lit(1)), 6
            ).alias("exact_rate"),
            F.round(
                F.sum("nd_rm").cast("double") / F.count(F.lit(1)), 6
            ).alias("neardup_rate"),
        )
    )


DD11_TAU = 0.8  # containment threshold |A∩B| / |A|
DD11_TAU_FRAC = (4, 5)  # exact rational form (see DD8_TAU_FRAC)
assert DD11_TAU_FRAC[0] / DD11_TAU_FRAC[1] == DD11_TAU


@register(
    "dd11_containment_join",
    # quadratic ground truth: ordered (contained, container) pairs
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) / LEN(a.s)
               AS containment
    FROM sh a JOIN sh b ON a.doc_id != b.doc_id
    WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) / LEN(a.s)
          >= {DD11_TAU}
    """,
)
def dd11_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle CONTAINMENT join — ordered (contained, container)
    pairs with C(A→B) = |A∩B| / |A| >= {DD11_TAU} — the ASYMMETRIC
    sibling of dd8's Jaccard join. Jaccard misses the subset-dup
    shape entirely (a doc quoted inside a much longer one has tiny
    Jaccard but containment ~1), and subset dups are what boilerplate
    wrapping, quoting, and page-chrome duplication actually look like
    in web corpora; C is the metric the Lee et al. / CCNet-style
    "document mostly contained elsewhere" filters use.

    Candidate rule (the one-sided prefix filter): containment demands
    |A∩B| >= ceil(tau*|A|), i.e. A may MISS at most
    |A| - ceil(tau*|A|) elements, so A's (|A| - ceil(tau*|A|) + 1)
    rarest shingles (global-frequency order, dd8's total order) must
    hit B — the probe side indexes only prefixes while the CONTAINER
    side must index its FULL posting list (B's size gives no bound on
    which of its elements A shares; the asymmetry is intrinsic, cf.
    Vernica et al. §overlap). The join volume is Σ_{{s in prefixes}}
    freq(s): prefixes hold only globally-rare shingles, so the hot
    postings a full×full self-join would square never meet each
    other. Only |B| >= ceil(tau*|A|) survives as a length filter.
    Verification is reduce-side on the checkpointed shingle arrays
    (dd8's shape); containment is a ratio of exact integers. The
    oracle is the quadratic ground truth, so the hash check proves
    the asymmetric prefix rule loses no pair — including both
    directions of symmetric near-dups (a != b ordered pairs, never
    a < b)."""
    tau = DD11_TAU
    num, den = DD11_TAU_FRAC
    par = spark.sparkContext.defaultParallelism
    # the shared memoized shingle relation (dd8's checkpoint, built once
    # for the whole prefix-join family — VERDICT r8 #5)
    sizes = _shingle_sizes(spark, sf_dir)
    post = sizes.select("doc_id", "sz", F.explode("sh").alias("s"))
    freq = post.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    by_rarity = Window.partitionBy("doc_id").orderBy("cnt", "s")
    # A may miss at most sz - ceil(tau*sz) shingles of B; the prefix
    # rule rn <= sz - ceil(tau*sz) + 1 cross-multiplies to pure int64
    # (r13 — exact for every tau by construction; see the
    # DD8_TAU_FRAC precision note)
    in_prefix = F.col("sz") * num <= (F.col("sz") - F.col("rn") + 1) * den
    # every posting carries its rarity rank (r12): the container side
    # needs ranks for the positional filter, and ranking the full list
    # is the same single window pass the prefix build already ran.
    # r13: the ranked relation is repartitioned on the join key ONCE
    # and MATERIALIZED — both join sides below scan the checkpoint
    # (with its hash(s) partitioning, so no further exchange) instead
    # of re-running the freq-agg + window pipeline per side (the
    # before-plan shows two Window subtrees; a broadcast-wrapped side
    # cannot reuse the other side's shuffle Exchange).
    ranked = (
        post.join(F.broadcast(freq), "s")
        .withColumn("rn", F.row_number().over(by_rarity))
        .repartition(par, "s")
        .localCheckpoint()
    )
    prefix = ranked.filter(in_prefix).select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        "s",
        F.col("rn").alias("rn_a"),
    )
    full = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        "s",
        F.col("rn").alias("rn_b"),
    )
    # positional filter (r12, dd12's asymmetric PPJoin bound): at the
    # globally-first common element the overlap is bounded by
    # min(sz_a-rn_a, sz_b-rn_b) + 1, which must reach ceil(tau·sz_a)
    # — conservative, result set unchanged (see dd12). r13: int64 form
    # den·overlap_ub >= num·sz_a ⟺ overlap_ub >= ceil(num·sz_a/den).
    overlap_ub = (
        F.least(F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b"))
        + 1
    )
    # both sides shuffled on the shingle key once; candidates dedup
    # into the verify partitioning (dd8's fused exchange; the PPJoin+
    # per-pair suffix aggregate was prototyped and pruned zero
    # candidates — see the dd8 r13 note)
    cand = (
        prefix.join(
            full,
            on=[
                prefix.s == full.s,
                F.col("doc_a") != F.col("doc_b"),
                # containment needs >= ceil(tau*|A|) distinct hits in B
                F.col("sz_b") * den >= F.col("sz_a") * num,
                overlap_ub * den >= F.col("sz_a") * num,
            ],
        )
        .select("doc_a", "doc_b")
        .repartition(par, "doc_a")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    cont = (
        F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
            "double"
        )
        / F.col("sz_a")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= tau)
    )


def _smp7_oracle() -> str:
    from etl_project_spark.operators.core import (
        _SPLIT_TRAIN_MAX,
        _SPLIT_VAL_MAX,
    )

    return f"""
    WITH clusters AS ({_CC_CLUSTERS_SQL})
    SELECT doc_id, cluster_id,
           CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
                     < '{_SPLIT_TRAIN_MAX}' THEN 'train'
                WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
                     < '{_SPLIT_VAL_MAX}' THEN 'val'
                ELSE 'test' END AS split
    FROM clusters
    """


@register("smp7_leakage_safe_split", oracle=_smp7_oracle())
def smp7_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: assign every document to a
    split by hashing its near-dup CLUSTER id (dd7's min-doc_id label),
    not its own id — so a near-duplicate family can never straddle
    train and test. smp3's per-doc hash split is contamination-blind:
    two 0.9-Jaccard copies of one page land in different splits ~9.5%
    of the time (any cross-split near-dup pair IS test-set leakage,
    the thing pp2 exists to detect after the fact); smp7 is
    the structural fix — the split key is the connected-component
    label, so leakage through the near-dup graph is zero by
    construction, which tests/test_dedup_similarity.py pins (no LSH
    edge straddles splits).

    Shape: dd7's plan (LSH candidates -> verified edges -> connected
    components, one in-memory kernel pass below the edge cap and
    O(log n) star-contraction rounds above it; never all-pairs) plus
    one scan-local md5 projection — the split adds NO shuffle beyond
    the cluster labeling it already needs. Same 90/5/5 hex thresholds
    as smp3, so the two relations are drop-in interchangeable
    downstream; split membership stays decidable per (doc, cluster)
    row with no global state, and appending new docs never moves an
    existing family (frozen-merges discipline, the
    append_to_text_index rule)."""
    from etl_project_spark.operators.core import (
        _SPLIT_TRAIN_MAX,
        _SPLIT_VAL_MAX,
    )

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    comp = _lsh_components(spark, sf_dir)
    labeled = (
        raw.select("doc_id")
        .join(comp, raw.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    h = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8)
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.when(h < _SPLIT_TRAIN_MAX, "train")
        .when(h < _SPLIT_VAL_MAX, "val")
        .otherwise("test")
        .alias("split"),
    )


def _dq8_oracle() -> str:
    from etl_project_spark.operators.core import (
        _SPLIT_TRAIN_MAX,
        _SPLIT_VAL_MAX,
    )

    case = (
        "CASE WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 8) "
        f"< '{_SPLIT_TRAIN_MAX}' THEN 'train' "
        "WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 8) "
        f"< '{_SPLIT_VAL_MAX}' THEN 'val' ELSE 'test' END"
    )
    return f"""
    WITH clusters AS ({_CC_CLUSTERS_SQL}),
    toks2 AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ), sh2 AS (
        SELECT doc_id, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks2
    ), pair_edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
              / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
              >= 0.5
    ), labeled AS (
        SELECT c.doc_id,
               {case.format(k="c.doc_id")} AS doc_split,
               {case.format(k="c.cluster_id")} AS cluster_split
        FROM clusters c
    ), strategies AS (
        SELECT 'doc_hash' AS strategy, doc_id, doc_split AS split
        FROM labeled
        UNION ALL
        SELECT 'cluster_hash', doc_id, cluster_split FROM labeled
    ), sizes AS (
        SELECT strategy,
               CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_val,
               CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_test
        FROM strategies GROUP BY strategy
    ), cross_pairs AS (
        SELECT s.strategy,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN su.split <> sv.split THEN 1 ELSE 0
                    END) AS BIGINT) AS n_cross_pairs
        FROM pair_edges e
        CROSS JOIN (SELECT DISTINCT strategy FROM strategies) s
        JOIN strategies su
          ON su.strategy = s.strategy AND su.doc_id = e.u
        JOIN strategies sv
          ON sv.strategy = s.strategy AND sv.doc_id = e.v
        GROUP BY s.strategy
    )
    SELECT sizes.strategy, n_train, n_val, n_test,
           n_pairs, n_cross_pairs
    FROM sizes JOIN cross_pairs ON sizes.strategy = cross_pairs.strategy
    """


@register("dq8_split_leakage_audit", oracle=_dq8_oracle())
def dq8_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT LEAKAGE AUDIT — the number that justifies smp7: for each
    split strategy ('doc_hash' = smp3's per-doc rule, 'cluster_hash' =
    smp7's per-near-dup-cluster rule), the split sizes plus how many
    verified near-dup pairs STRADDLE a split boundary. A straddling
    pair is train/test contamination (a test doc whose near-copy was
    trained on); doc_hash shows a positive count on any corpus with
    planted dups, cluster_hash is structurally zero — this relation is
    the before/after evidence a data team reviews when switching split
    rules, and the batch twin of what pp2 checks against an external
    benchmark. Two rows, six columns, hash-checked end to end
    (including the zero).

    Shape: ONE edge materialization (LSH candidates -> verified pairs,
    persisted) and ONE cluster labeling feed both strategies; the
    strategy relation is a union of two scan-local md5 projections
    over the same labeled relation; straddle counting joins the
    bounded edge set to the split map on each endpoint (at 100 TB:
    broadcast the edge relation if the dup-family mass fits, else two
    doc_id-keyed shuffles). Counts reduce to O(strategies) rows."""
    from etl_project_spark.operators.core import (
        _SPLIT_TRAIN_MAX,
        _SPLIT_VAL_MAX,
    )

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = _lsh_pairs_memo(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    comp = _lsh_components(spark, sf_dir)
    labeled = (
        raw.select("doc_id")
        .join(comp, raw.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .localCheckpoint(eager=True)  # feeds both strategies twice
    )

    def split_col(key: str):
        h = F.substring(F.md5(F.col(key).cast("string")), 1, 8)
        return (
            F.when(h < _SPLIT_TRAIN_MAX, "train")
            .when(h < _SPLIT_VAL_MAX, "val")
            .otherwise("test")
        )

    strategies = (
        labeled.select(
            F.lit("doc_hash").alias("strategy"),
            "doc_id",
            split_col("doc_id").alias("split"),
        )
        .unionAll(
            labeled.select(
                F.lit("cluster_hash").alias("strategy"),
                "doc_id",
                split_col("cluster_id").alias("split"),
            )
        )
        .localCheckpoint(eager=True)  # sizes + two straddle joins
    )
    sizes = strategies.groupBy("strategy").agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test"),
    )
    su = strategies.select(
        F.col("strategy").alias("s_u"),
        F.col("doc_id").alias("u"),
        F.col("split").alias("split_u"),
    )
    sv = strategies.select(
        F.col("strategy").alias("s_v"),
        F.col("doc_id").alias("vv"),
        F.col("split").alias("split_v"),
    )
    cross = (
        F.broadcast(edges)
        .join(su, "u")
        .join(
            sv,
            (F.col("s_u") == F.col("s_v"))
            & (F.col("v") == F.col("vv")),
        )
        .groupBy(F.col("s_u").alias("strategy"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("split_u") != F.col("split_v")).cast("long")
            ).alias("n_cross_pairs"),
        )
    )
    return sizes.join(cross, "strategy").select(
        "strategy", "n_train", "n_val", "n_test", "n_pairs", "n_cross_pairs"
    )


PP11_WEIGHT_CAP = 10  # upweight clip: huge boilerplate families stay at 10


@register(
    "pp11_dup_weighted_keep",
    oracle=f"""
    WITH clusters AS ({_CC_CLUSTERS_SQL}),
    t AS (
        SELECT doc_id, LEN(str_split(lower(text), ' ')) AS n_tokens
        FROM documents
    ), m AS (
        SELECT c.cluster_id, c.doc_id, t.n_tokens
        FROM clusters c JOIN t USING (doc_id)
    )
    SELECT cluster_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN m.doc_id = cluster_id THEN n_tokens END)
                AS BIGINT) AS n_tokens_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
           CAST(LEAST(COUNT(*), {PP11_WEIGHT_CAP}) AS BIGINT) AS weight
    FROM m GROUP BY cluster_id
    """,
)
def pp11_dup_weighted_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE SAMPLING WEIGHTS: keep ONE copy per near-dup
    cluster (dd7's min-doc_id canonical) and upweight it by the
    cluster's multiplicity, clipped at {PP11_WEIGHT_CAP} — the
    "count duplicates once but don't lose their evidence" correction
    a training sampler applies after dedup (hard-dropping dups
    underweights genuinely popular content; unclipped multiplicity
    re-inflates boilerplate — the clip is the standard compromise).
    Output is one row per canonical doc: members, kept-doc tokens,
    total collapsed tokens (the repeat mass a smp4-style weighted
    sampler or pp4's mixture reweighting consumes), and the clipped
    weight.

    Shape: dd7's edge->CC labeling (never all-pairs) joined once to
    scan-local token counts, then ONE per-cluster hash aggregate —
    members, token sums, and the kept doc's tokens (a conditional MAX
    inside the same aggregate: canonical == cluster label by
    construction, so no second join back). O(canonical docs) out."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    comp = _lsh_components(spark, sf_dir)
    m = (
        raw.select("doc_id", F.size(_tokens()).alias("n_tokens"))
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    return m.groupBy(F.col("cluster_id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(
            F.when(
                F.col("doc_id") == F.col("cluster_id"),
                F.col("n_tokens"),
            )
        )
        .cast("long")
        .alias("n_tokens_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_total"),
        F.least(
            F.count(F.lit(1)), F.lit(PP11_WEIGHT_CAP).cast("long")
        )
        .cast("long")
        .alias("weight"),
    )


@register(
    "dq9_source_overlap_matrix",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id, source, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks
    ), pairs AS (
        SELECT LEAST(a.source, b.source) AS source_a,
               GREATEST(a.source, b.source) AS source_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
              / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
              >= 0.5
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           source_a = source_b AS within_source
    FROM pairs GROUP BY source_a, source_b
    """,
)
def dq9_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE DUPLICATION MATRIX — which crawls/feeds duplicate
    EACH OTHER: every verified near-dup pair (3-shingle Jaccard >= 0.5,
    dd4/dd7's metric) is keyed by its unordered source pair and
    counted. dq5 answers "how much of source X is removable"; dq9
    answers the planning question behind it — "removable against
    WHOM": a heavy off-diagonal cell means two sources re-serve the
    same content (dedup one against the other, or drop the lower-
    quality feed), while a diagonal-dominant matrix means dedup can
    run per-source in isolation (a much cheaper sharding at 100 TB).

    Shape: the pair relation is lsh_verified_pairs — banded MinHash
    buckets, exact verify, never all-pairs (recall 1.0 on this
    fixture's planted pairs, RECALL.json; the oracle recomputes the
    exact quadratic truth) — joined twice to the scan-local (doc_id,
    source) projection (broadcast at test scale, hash joins against
    the bounded pair relation at any scale), then ONE aggregate on
    the unordered source-pair key. Output is O(sources²) rows
    regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    edges = _lsh_pairs_memo(spark, sf_dir)
    src = docs.select("doc_id", "source")
    pairs = (
        edges.select("doc_a", "doc_b")
        .join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
    )
    return (
        pairs.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn(
            "within_source", F.col("source_a") == F.col("source_b")
        )
    )


# --- dd12: containment pairs (asymmetric near-dup) -----------------------------

DD12_TAU = 0.8  # containment threshold |A∩B| / |A|
DD12_TAU_FRAC = (4, 5)  # exact rational form (see DD8_TAU_FRAC)
assert DD12_TAU_FRAC[0] / DD12_TAU_FRAC[1] == DD12_TAU


@register(
    "dd12_containment_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct(
            [array_to_string(t[i+1:i+3], ' ')
             FOR i IN generate_series(0, GREATEST(LEN(t)-3, 0))]
        ) AS s
        FROM toks
    )
    SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst,
           CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) / LEN(a.s)
               AS containment
    FROM sh a JOIN sh b ON a.doc_id != b.doc_id
    WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) / LEN(a.s)
          >= {DD12_TAU}
    """,
)
def dd12_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-containment pairs C(src→dst) = |src∩dst| / |src|
    ≥ {DD12_TAU} — the ASYMMETRIC near-dup relation Jaccard can't see:
    a short document quoted whole inside a much longer one has
    containment ≈ 1 while its Jaccard is tiny (the
    quote-aggregator / boilerplate-wrapper / subset-shard cases dedup
    pipelines handle separately from dd8's symmetric pairs). Output is
    DIRECTIONAL: (doc_src, doc_dst) means src is covered by dst; exact
    duplicates appear in both directions by design.

    Candidate rule (the asymmetric half of dd8's Vernica/PPJoin form):
    order shingles by (global frequency asc, shingle) and index only
    each SOURCE's first |A| - ceil(tau·|A|) + 1 rarest shingles — an
    overlap of ceil(tau·|A|) can't avoid that prefix — joined against
    the DESTINATION side's full postings (containment puts no upper
    bound on |dst|, so dst can't be prefix-pruned; frequent shingles
    still contribute ~nothing because they sit in almost no source
    prefix). A one-sided size filter |dst| ≥ tau·|src| prunes at hash
    time. Verification is reduce-side exact array_intersect over the
    candidate pairs — pairs × 1 rows, never all pairs. The containment
    value is a ratio of exact integers (bit-identical across engines,
    dd3/dd8 precedent)."""
    tau = DD12_TAU
    num, den = DD12_TAU_FRAC
    par = spark.sparkContext.defaultParallelism
    # the shared memoized shingle relation feeds the prefix build, the
    # full-postings side, and both verify-side array lookups (dd8's
    # checkpoint rule: HOF lambdas defeat ReuseExchange, so the family
    # pays the shingling exactly once — VERDICT r8 #5)
    sizes = _shingle_sizes(spark, sf_dir)
    post = sizes.select("doc_id", "sz", F.explode("sh").alias("s"))
    freq = post.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    by_rarity = Window.partitionBy("doc_id").orderBy("cnt", "s")
    # prefix rule rn <= sz - ceil(tau*sz) + 1 in pure int64 (r13 —
    # exact for every tau by construction; see the DD8_TAU_FRAC
    # precision note)
    in_prefix = F.col("sz") * num <= (F.col("sz") - F.col("rn") + 1) * den
    # every posting carries its rarity rank (r12): the dst side needs
    # ranks too for the positional filter below, and ranking the full
    # posting list is the same single window pass the prefix build
    # already ran. r13: ranked is repartitioned on the join key once
    # and MATERIALIZED so both sides scan the checkpoint instead of
    # re-running the freq-agg + window pipeline (see dd11)
    ranked = (
        post.join(F.broadcast(freq), "s")
        .withColumn("rn", F.row_number().over(by_rarity))
        .repartition(par, "s")
        .localCheckpoint()
    )
    src_prefix = ranked.filter(in_prefix).select(
        F.col("doc_id").alias("doc_src"),
        F.col("sz").alias("sz_src"),
        "s",
        F.col("rn").alias("rn_src"),
    )
    dst_full = ranked.select(
        F.col("doc_id").alias("doc_dst"),
        F.col("sz").alias("sz_dst"),
        "s",
        F.col("rn").alias("rn_dst"),
    )
    # positional filter (r12, the asymmetric PPJoin bound): at the
    # globally-first common element, ranks (rn_src, rn_dst) bound the
    # overlap by min(sz_src-rn_src, sz_dst-rn_dst) + 1, which must
    # reach ceil(tau·sz_src) — conservative (a qualifying pair's first
    # common posting always passes: no common element can precede it
    # in either rarity-sorted list), so the verified result set is
    # unchanged (measured at sf0.1: 2.0-2.6 s -> ~1.5 s, identical
    # 512 output pairs; frequent-shingle matches sit late in the dst
    # list and are exactly the ones the bound kills)
    overlap_ub = (
        F.least(
            F.col("sz_src") - F.col("rn_src"),
            F.col("sz_dst") - F.col("rn_dst"),
        )
        + 1
    )
    cand = (
        src_prefix.join(dst_full, "s")
        .filter(
            (F.col("doc_src") != F.col("doc_dst"))
            # int64 forms (r13): den·sz_dst >= num·sz_src and
            # den·overlap_ub >= num·sz_src ⟺ the ceil bounds
            & (F.col("sz_dst") * den >= F.col("sz_src") * num)
            & (overlap_ub * den >= F.col("sz_src") * num)
        )
        .select("doc_src", "doc_dst")
        .repartition(par, "doc_src")
        .dropDuplicates(["doc_src", "doc_dst"])
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_src"),
        F.col("sh").alias("sh_src"),
        F.col("sz").alias("sz_src"),
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_dst"), F.col("sh").alias("sh_dst")
    )
    inter = F.size(F.array_intersect(F.col("sh_src"), F.col("sh_dst")))
    containment = inter.cast("double") / F.col("sz_src")
    return (
        cand.join(sa, "doc_src")
        .join(sb, "doc_dst")
        .select("doc_src", "doc_dst", containment.alias("containment"))
        .filter(F.col("containment") >= tau)
    )
