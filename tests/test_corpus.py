"""Clean-corpus end-to-end job: stage counts agree with the standalone
operators, packing respects the budget, output table is partitioned."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_project_spark.registry import all_queries


def test_clean_corpus_matches_stage_operators(spark, sf_dir):
    """Survivor count == pp3's n_survive total; every doc's text is
    PII-clean; shard token sums respect the budget (+1 straddling doc);
    the landed table partitions by shard_group."""
    from etl_project_spark.ingest.corpus import materialize_corpus

    budget = 512
    stats = materialize_corpus(
        spark, sf_dir, table="clean_corpus_test", shard_tokens=budget
    )
    funnel = (
        all_queries()["pp3_quality_funnel"](spark, sf_dir)
        .agg(F.sum("n_survive").alias("s"))
        .collect()[0]["s"]
    )
    assert stats["n_docs"] == funnel
    out = spark.table("clean_corpus_test")
    assert stats["n_docs"] == out.count()
    # PII scrub applied: no emails survive
    assert out.filter(F.col("text").rlike("@")).count() == 0
    # budget: every shard's token sum <= budget + its largest doc
    per_shard = (
        out.groupBy("shard_id")
        .agg(F.sum("n_tokens").alias("t"), F.max("n_tokens").alias("m"))
        .collect()
    )
    for r in per_shard:
        assert r["t"] <= budget + r["m"], r
    # physical layout: shard_group is a partition directory
    files = spark.table("clean_corpus_test").inputFiles()
    assert any("shard_group=" in f for f in files), files[:3]


def test_clean_corpus_bpe_token_budgeting(spark, sf_dir):
    """token_counter="bpe": every survivor's n_tokens equals the
    differentially-checked bpe3/bpe2 count for that doc, and shard ids
    replay exactly as floor(cumulative-BPE-tokens-before / budget) over
    survivors in doc_id order — real tokenizer cost budgeting end to
    end (SURVEY §14.5)."""
    from etl_project_spark.ingest.corpus import clean_corpus

    budget = 2048
    rows = (
        clean_corpus(spark, sf_dir, shard_tokens=budget, token_counter="bpe")
        .orderBy("doc_id")
        .collect()
    )
    assert rows
    bpe = {
        r["doc_id"]: r["n_tokens"]
        for r in all_queries()["bpe3_cached_shard_packing"](
            spark, sf_dir
        ).collect()
    }
    cum = 0
    for r in rows:
        assert r["n_tokens"] == bpe[r["doc_id"]], r["doc_id"]
        assert r["shard_id"] == cum // budget, r
        cum += r["n_tokens"]
    # BPE counts genuinely differ from whitespace counts (the point)
    ws = {
        r["doc_id"]: r["n_tokens"]
        for r in clean_corpus(spark, sf_dir, shard_tokens=budget).collect()
    }
    assert any(ws[d] != n for d, n in
               ((r["doc_id"], r["n_tokens"]) for r in rows))


def test_clean_corpus_near_dup_collapse(spark, sf_dir):
    """With near_dup_threshold set, the job additionally drops exactly
    the non-minimum members of each verified LSH cluster that would
    otherwise have survived the gates — no more, no fewer."""
    from etl_project_spark.ingest.corpus import clean_corpus
    from etl_project_spark.operators.dedup import (
        connected_components,
        lsh_verified_pairs,
    )

    base = clean_corpus(spark, sf_dir)
    collapsed = clean_corpus(spark, sf_dir, near_dup_threshold=0.5)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    kept_ids = {r["doc_id"] for r in collapsed.select("doc_id").collect()}
    assert kept_ids <= base_ids

    from etl_project_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = lsh_verified_pairs(spark, docs, threshold=0.5).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    losers = {
        r["node"]
        for r in connected_components(edges)
        .filter(F.col("node") != F.col("component"))
        .collect()
    }
    assert base_ids - kept_ids == base_ids & losers
    assert losers, "corpus should contain at least one near-dup cluster"


def test_clean_corpus_near_dup_pins_no_cache_entry(spark, sf_dir):
    """clean_corpus(near_dup_threshold=...) materializes its edge
    relation with an eager localCheckpoint, which the ContextCleaner
    frees once unreferenced: the call leaves no new CacheManager entry
    for the session. The threshold is one no other test uses, so no
    earlier call can have registered the same plan."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.ingest.corpus import clean_corpus
    from etl_project_spark.operators.dedup import lsh_verified_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lsh_verified_pairs(spark, docs)  # registers the shared band signatures
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    assert clean_corpus(spark, sf_dir, near_dup_threshold=0.75).count() > 0
    assert cache.numCachedEntries() == before


def test_clean_corpus_dsir_and_positions(spark, sf_dir):
    """With dsir_target + epoch set: every survivor carries a finite
    dsir_logratio equal to pp7's standalone score, and position is a
    dense 0..n-1 permutation that changes between epochs but is stable
    within one."""
    import math

    from etl_project_spark.ingest.corpus import clean_corpus
    from etl_project_spark.registry import all_queries

    out = clean_corpus(
        spark, sf_dir, dsir_target="src0", epoch=1
    ).collect()
    n = len(out)
    assert sorted(r["position"] for r in out) == list(range(n))
    assert all(
        r["dsir_logratio"] is not None and math.isfinite(r["dsir_logratio"])
        for r in out
    )
    pp7 = {
        r["doc_id"]: r["log_ratio"]
        for r in all_queries()["pp7_dsir_weights"](spark, sf_dir).collect()
    }
    for r in out:
        assert r["dsir_logratio"] == pp7[r["doc_id"]], r["doc_id"]
    # a different epoch is a different (but still dense) permutation
    out2 = clean_corpus(
        spark, sf_dir, dsir_target=None, epoch=2
    ).collect()
    assert sorted(r["position"] for r in out2) == list(range(n))
    p1 = {r["doc_id"]: r["position"] for r in out}
    p2 = {r["doc_id"]: r["position"] for r in out2}
    assert p1 != p2
    # determinism within an epoch
    out1b = clean_corpus(spark, sf_dir, epoch=1).collect()
    assert {r["doc_id"]: r["position"] for r in out1b} == p1


def test_clean_media_corpus_cascade_and_packing(spark, sf_dir):
    """The media build's stages agree with the standalone operators:
    survivors carry unique payload digests AND unique aHash signatures,
    every mm5 duplicate group keeps exactly its minimum media_id, the
    funnel audit's stage counts are monotone and match the final row
    count, and no shard exceeds the byte budget by more than one
    payload (the packing invariant)."""
    from pyspark.sql import functions as F

    from etl_project_spark.ingest.media_corpus import (
        SHARD_BYTES,
        clean_media_corpus,
        media_funnel_audit,
    )
    from etl_project_spark.registry import all_queries

    out = clean_media_corpus(spark, sf_dir)
    rows = out.collect()
    n = len(rows)
    assert n > 0
    sigs = [r["ahash_bits"] for r in rows]
    assert len(set(sigs)) == n  # perceptual-dup free
    digests = {bytes(r["payload"]) for r in rows}
    assert len(digests) == n  # exact-dup free
    # mm5's duplicate groups collapse to their min id
    kept = {r["media_id"] for r in rows}
    for g in all_queries()["mm5_perceptual_hash_dedup"](
        spark, sf_dir
    ).collect():
        ids = [int(x) for x in g["media_ids"].split(",")]
        assert min(ids) in kept
        assert all(i not in kept for i in ids[1:] if i != min(ids))
    audit = media_funnel_audit(spark, sf_dir)
    assert (
        audit["n_total"]
        >= audit["n_decode_ok"]
        >= audit["n_gate"]
        >= audit["n_exact"]
        >= audit["n_phash"]
    )
    assert audit["n_phash"] == n
    # packing: within a shard, payload bytes fit the budget + <=1 doc
    per_shard = (
        out.groupBy("shard_id")
        .agg(F.sum("n_bytes").alias("b"), F.max("n_bytes").alias("mx"))
        .collect()
    )
    for r in per_shard:
        assert r["b"] <= SHARD_BYTES + r["mx"]


def test_media_corpus_stream_replays_to_batch(spark, sf_dir, tmp_path):
    """SURVEY §14.4: an AvailableNow replay of the media table in 4
    media_id-ordered micro-batches through media_corpus_stream lands
    exactly the batch build's corpus — same survivors, same shard
    assignment (the byte cursor continues across batches) — and a
    second replay over the same source appends nothing (the sink
    anti-join makes the job idempotent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_project_spark.ingest.media_corpus import (
        clean_media_corpus,
        media_corpus_stream,
    )
    from etl_project_spark.operators.multimodal import media_table
    from etl_project_spark.sources.tables import _drop_table_and_location
    from etl_project_spark.streaming import pipeline as sp

    table = "stream_media_corpus_t"
    _drop_table_and_location(spark, table)
    pdf = (
        media_table(spark, sf_dir)
        .select("media_id", "payload")
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    src = tmp_path / "media_src"
    src.mkdir()
    n = len(pdf)
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    # lexicographic names == arrival order for same-mtime ties; ranges
    # ascend in media_id so stream order matches the batch build's
    for i in range(4):
        chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            str(src / f"chunk_{i:02d}.parquet"),
        )
    schema = spark.read.parquet(str(src)).schema
    stream = sp.file_event_stream(
        spark, str(src), schema, max_files_per_trigger=1
    )
    media_corpus_stream(
        spark, stream, table, str(tmp_path / "ck_media"), available_now=True
    )
    want = {
        r["media_id"]: (
            r["n_bytes"],
            r["ahash_bits"],
            r["shard_id"],
            r["shard_group"],
        )
        for r in clean_media_corpus(spark, sf_dir).collect()
    }
    got = {
        r["media_id"]: (
            r["n_bytes"],
            r["ahash_bits"],
            r["shard_id"],
            r["shard_group"],
        )
        for r in spark.table(table).collect()
    }
    assert got == want
    # replay with a fresh checkpoint: every row anti-joins away
    stream2 = sp.file_event_stream(
        spark, str(src), schema, max_files_per_trigger=1
    )
    media_corpus_stream(
        spark, stream2, table, str(tmp_path / "ck_media2"), available_now=True
    )
    assert spark.table(table).count() == len(want)
    _drop_table_and_location(spark, table)


def test_materialize_media_corpus_idempotent(spark, sf_dir):
    """Re-running the media build replaces the table (no duplication),
    the same contract as the text build and the daily export."""
    from etl_project_spark.ingest.media_corpus import (
        materialize_media_corpus,
    )

    a1 = materialize_media_corpus(spark, sf_dir, table="media_corpus_t")
    a2 = materialize_media_corpus(spark, sf_dir, table="media_corpus_t")
    assert a1 == a2
    assert a1["n_media"] > 0 and a1["n_shards"] > 0


def test_media_stream_invariant_under_random_boundaries(
    spark, sf_dir, tmp_path
):
    """The media twin's byte cursor is ORDER-sensitive (shard packing
    folds left-to-right), so unlike the commutative hourly state it
    cannot be fuzzed with hash-drawn slices — what CAN vary freely is
    where the micro-batch boundaries fall. Fuzz that: random slice
    counts and random split points over the media_id-ordered stream
    must all land exactly the batch build (same survivors, same shard
    assignment, cursor continuing across every boundary)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_project_spark.ingest.media_corpus import (
        clean_media_corpus,
        media_corpus_stream,
    )
    from etl_project_spark.operators.multimodal import media_table
    from etl_project_spark.sources.tables import _drop_table_and_location
    from etl_project_spark.streaming import pipeline as sp

    pdf = (
        media_table(spark, sf_dir)
        .select("media_id", "payload")
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    n = len(pdf)
    want = {
        r["media_id"]: (r["n_bytes"], r["shard_id"], r["shard_group"])
        for r in clean_media_corpus(spark, sf_dir).collect()
    }
    # deterministic pseudo-random boundary draws (no RNG: derived from
    # the case index, so failures reproduce)
    cases = []
    for case in range(3):
        k = 2 + (case * 2 + 1) % 5  # 3, 5, 2 slices
        cuts = sorted(
            {((j + 1) * (case * 131 + 97)) % (n - 1) + 1 for j in range(k - 1)}
        )
        cases.append([0] + cuts + [n])
    for case, bounds in enumerate(cases):
        table = f"stream_media_fuzz_{case}"
        _drop_table_and_location(spark, table)
        src = tmp_path / f"media_fuzz_src_{case}"
        src.mkdir()
        for i in range(len(bounds) - 1):
            chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
            if len(chunk) == 0:
                continue
            pq.write_table(
                pa.Table.from_pandas(chunk, preserve_index=False),
                str(src / f"chunk_{i:02d}.parquet"),
            )
        schema = spark.read.parquet(str(src)).schema
        stream = sp.file_event_stream(
            spark, str(src), schema, max_files_per_trigger=1
        )
        media_corpus_stream(
            spark,
            stream,
            table,
            str(tmp_path / f"ck_media_fuzz_{case}"),
            available_now=True,
        )
        got = {
            r["media_id"]: (r["n_bytes"], r["shard_id"], r["shard_group"])
            for r in spark.table(table).collect()
        }
        assert got == want, (case, bounds)
        _drop_table_and_location(spark, table)
