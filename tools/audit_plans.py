"""Physical-plan audit: dumps every registry query's plan via
etl_project_spark.plans and flags the patterns that break at scale.
Writes SCALE.md. Flag semantics: see etl_project_spark/plans/audit.py.

Usage: python tools/audit_plans.py [sf_dir] > /dev/null && cat SCALE.md
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from etl_project_spark.plans import plan_stats  # noqa: E402
from etl_project_spark.session import get_spark  # noqa: E402

# operators where a nested-loop/cartesian stage is the documented intent
# (bounded exact-verification ground truth or a bounded broadcast query
# set crossed against the corpus — linear per query, not corpus²)
INTENDED_QUADRATIC = {"dd3_jaccard_pairs", "dd6_embedding_neardup",
                      "x1_topk_cosine_exact",
                      "rk4_reciprocal_rank_fusion",
                      # rk7: two rk4-shaped bounded broadcast-query
                      # passes (PRF round 1 + expanded round 2)
                      "rk7_prf_expansion",
                      "x8_hard_negative_mining",
                      # x10: the bounded broadcast query set crossed
                      # against candidates for the relevance shortlist
                      # (x1's shape); at 100 TB the shortlist comes
                      # from the ANN index instead (docstring)
                      "x10_mmr_topk",
                      # x12: the recall eval re-runs x1 (the intended
                      # exact ground truth above) as one input; the
                      # eval join itself is O(queries x k) rows
                      "x12_ann_recall_eval",
                      # x13: BOTH arms are x1's intended bounded brute
                      # force (broadcast query set x candidates); the
                      # overlap join is O(queries x k) rows
                      "x13_dim_truncation_eval",
                      # x16: radius search over the broadcast query
                      # set — x1's intended bounded brute force; the
                      # production route is the same filter inside IVF
                      # probe cells (docstring)
                      "x16_range_search",
                      # x15: the ADC stage is BY DESIGN a broadcast of
                      # the bounded query LUT set against the 4-byte
                      # code relation — linear in corpus per query
                      # (that's the PQ economics), never corpus²
                      "x15_pq_reference_topk",
                      # x17: the binary-signature scan — the broadcast
                      # bounded query set's packed BIGINTs crossed
                      # against the 32-byte signature relation (linear
                      # per query, the binary-quantization economics);
                      # at 100 TB the cross becomes per-bucket probes
                      # over the persisted signature index (docstring)
                      "x17_hamming_topk",
                      # x18: stage 1 is x17's intended signature scan;
                      # stage 2 reranks only the bounded shortlist
                      "x18_binary_shortlist_rerank"}

# queries whose unpartitioned Window ops (GLOBAL-WINDOW flag) run over
# a PROVABLY BOUNDED relation — each site verified by reading the plan
# subtree feeding the window (VERDICT r10 #3). Anything flagged
# GLOBAL-WINDOW and NOT in this dict is an unexplained single-task
# sort and fails the audit (printed as FLAG).
BOUNDED_GLOBAL_WINDOW = {
    # two-phase bucketed prefix sums: the window orders the
    # bucket-TOTALS relation (corpus/PACK_BUCKET rows), never the corpus
    "pp1_token_shard_packing": "bucket spine",
    "pp6_epoch_shuffle": "bucket spine",
    "pp8_sequence_packing": "bucket spine",
    "pp12_seq_composition": "bucket spine",
    "pp13_curriculum_phases": "bucket spine",
    "pp15_dedup_weighted_mixture": "bucket spine",
    "bpe3_cached_shard_packing": "bucket spine",
    "smp8_systematic_pps_sample": "bucket spine",
    # r13: KS offsets fold over the ~26-row price-bucket totals
    # (SF-invariant TPC-H price range) instead of a driver collect
    "dq14_ks_drift": "bucket spine",
    # per-source aggregates: #sources rows at any corpus scale
    "pp4_source_mixture": "per-source rows",
    "smp6_temperature_mixture": "per-source rows",
    # rank<=R bounded BELOW the window by LimitPushDownThroughWindow /
    # InferWindowGroupLimit (pinned in tests/test_plans.py)
    "smp4_weighted_sample": "rank-limited",
    # calendar-hour spine + 24 hour-of-day rows
    "ts10_seasonal_decomposition": "calendar spine",
    # counts-of-counts relation (distinct per-user event counts)
    "an11_engagement_gini": "counts-of-counts",
}


# Appended verbatim to SCALE.md (VERDICT r12 #6): the SOURCE-level
# enumeration of every unpartitioned-window construction site in the
# package, each with its row bound by construction. The WindowExec
# "No Partition Defined" WARN lines in the bench tail all come from
# these sites firing at runtime; the per-query plan table above flags
# the same windows per consumer (global-window(bounded: …)).
GLOBAL_WINDOW_SITES = (
    "\n## Unpartitioned-window construction sites (r13 enumeration)\n\n"
    "Every `Window.orderBy(...)` without a `partitionBy` in the "
    "package, with the proof its input is bounded by construction. "
    "Any site NOT in this list fails the plan audit (GLOBAL-WINDOW "
    "flag) and the per-family plan tests.\n\n"
    "| site | consumers | input relation | row bound |\n"
    "|---|---|---|---|\n"
    "| operators/pipeline.py `_two_phase_pack` (over_buckets) | pp1, "
    "pp12, pp13, pp15, bpe3 (+pp4/smp6 per-source twins) | shard-"
    "bucket totals | corpus_tokens / SHARD_TOKENS buckets (hundreds; "
    "one row per shard bucket, never per doc) |\n"
    "| operators/pipeline.py `pp8_sequence_packing` | pp8 | bucket "
    "totals | same bucket spine |\n"
    "| operators/pipeline.py `pp6_epoch_shuffle` | pp6 | bucket "
    "totals | same bucket spine |\n"
    "| operators/pipeline.py `smp8_systematic_pps_sample` | smp8 | "
    "bucket totals | same bucket spine |\n"
    "| operators/timeseries.py `ts10_seasonal_decomposition` "
    "(w_lo/w_hi/w_full) | ts10 | hourly calendar spine | hours in "
    "the fixed event window (calendar rows, not events) |\n"
    "| operators/core.py `smp4_weighted_sample` | smp4 | keyed docs "
    "BELOW a rank-limit rewrite | LimitPushDownThroughWindow / "
    "InferWindowGroupLimit bound the window input to R rows (pinned "
    "by tests/test_plans.py) |\n"
    "| operators/analytics.py `an11_engagement_gini` | an11 | "
    "counts-of-counts relation | distinct per-user event-count "
    "values (hundreds) |\n"
    "| operators/stats.py `dq14_ks_drift` (r13) | dq14 | price-"
    "bucket totals | ~26 rows (SF-invariant TPC-H price range / "
    "KS_STEP) |\n"
    "| operators/sketches.py `a15_mrl_quantile_sketch` (r13) | a15 | "
    "summary price-bucket totals | ~26 rows (bounded summary ≤33k "
    "rows bucketed by the same SF-invariant range); this window runs "
    "in a job while the DataFrame is built (the estimate collect), so "
    "the returned plan and this audit never see it — "
    "tests/test_sketches.py checks its ranks against a Python replay "
    "of the fold |\n"
    "| ingest/corpus.py `clean_corpus`, `_with_epoch_positions`; "
    "ingest/media_corpus.py `_pack_by_bytes` | fixture ingest only "
    "(not query paths) | bucket totals | same bucket spine |\n"
)


def audit(name: str, fn, spark, sf_dir: str) -> dict:
    s = plan_stats(fn(spark, sf_dir))
    flags = []
    for f in s.flags:
        if f == "QUADRATIC-JOIN" and name in INTENDED_QUADRATIC:
            flags.append("quadratic-join(intended)")
        elif (
            f.startswith("GLOBAL-WINDOW")
            and name in BOUNDED_GLOBAL_WINDOW
        ):
            flags.append(
                f"global-window(bounded: {BOUNDED_GLOBAL_WINDOW[name]})"
            )
        else:
            flags.append(f)
    return {
        "name": name,
        "shuffles": s.shuffles,
        "broadcasts": s.broadcasts,
        "pushed_scans": s.pushed_scans,
        "scans": s.scans,
        "flags": flags,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("audit")
    rows = []
    for name, fn in entrymod.queries().items():
        try:
            rows.append(audit(name, fn, spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            rows.append({"name": name, "error": repr(e)[:120]})
    with open("SCALE.md", "w") as f:
        f.write(
            "# SCALE — physical-plan audit of every registry query\n\n"
            "Generated by tools/audit_plans.py (re-run after plan "
            "changes). Columns: shuffles = hash/range Exchange count; "
            "bcast = BroadcastExchange count; pushed = scans with "
            "non-empty PushedFilters; flags — see "
            "etl_project_spark/plans/audit.py. Every flag is either "
            "resolved or justified in the operator's docstring.\n\n"
            "| query | shuffles | bcast | scans | pushed | flags |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in rows:
            if "error" in r:
                f.write(f"| {r['name']} | — | — | — | — | ERROR {r['error']} |\n")
                continue
            f.write(
                f"| {r['name']} | {r['shuffles']} | {r['broadcasts']} | "
                f"{r['scans']} | {r['pushed_scans']} | "
                f"{', '.join(r['flags']) or '—'} |\n"
            )
        f.write(
            "\n## Reading the table at 100 TB\n\n"
            "- **shuffles** is the count that matters: each Exchange "
            "re-materializes the stream to disk+network. The fact-fact "
            "joins budget exactly one fact shuffle; the bucketed layout "
            "(sources/tables.py) removes even that for orders⋈lineitem "
            "(verified shuffle-free in tests/test_layout.py).\n"
            "- **quadratic-join(intended)** marks bounded exact-"
            "verification operators kept as ground truth for the "
            "approximate paths (LSH/IVF/MinHash), which are the "
            "production routes.\n"
            "- **nested-loop(small-bcast)** marks BroadcastNestedLoop "
            "joins whose build side is provably tiny (scalar-subquery "
            "aggregate or driver-local frame) — the correct plan for "
            "1-row threshold comparisons, not a hazard.\n"
            "- **global-window(bounded: …)** marks unpartitioned "
            "Window ops whose input relation is provably bounded "
            "(bucket-totals spine, per-source rows, rank-limited "
            "prefilter, calendar spine) — the single-task sort never "
            "sees the corpus. Every such site is whitelisted per-query "
            "in tools/audit_plans.py (BOUNDED_GLOBAL_WINDOW); an "
            "unpartitioned window in ANY other query prints as a "
            "GLOBAL-WINDOW failure.\n"
            "- **arrow-python(ok)** marks Arrow-batched mapInPandas "
            "stages (one numpy GEMM per batch); no row-at-a-time Python "
            "exists in any plan.\n"
            "- The approximate paths' quality signal is recorded in "
            "**RECALL.json** (tools/measure_recall.py): recall of "
            "x3/x4/x9 vs x1's exact top-k, dd5b vs the brute-force "
            "Hamming join, dd4 vs dd8's exact Jaccard pairs, and sd1 "
            "vs the exact cosine drop set — at sf0.01, sf0.1 AND the "
            "planted structured fixture. Each approximate family also "
            "has a driver-hash-green deterministic twin (x6/x14/x15, "
            "dd5c, a12/a13/a14) replaying its pipeline exactly.\n"
            + GLOBAL_WINDOW_SITES
        )
    print(f"SCALE.md written ({len(rows)} queries)")
    for r in rows:
        if "error" in r:
            print("ERROR", r["name"], r["error"])
        elif any(fl.isupper() for fl in r.get("flags", [])):
            print("FLAG", r["name"], r["flags"])
    spark.stop()


if __name__ == "__main__":
    main()
