"""End-to-end training-corpus materialization: the one job a corpus
owner actually schedules, composing the per-stage operators this engine
ships — quality funnel (pp3's gates), fingerprint dedup (dd2's key),
PII redaction (tx9's scrub), token-budget shard packing (pp1's
two-phase prefix sum) — into a single pass pipeline that lands a
partitioned managed table plus a per-source audit of what each stage
dropped.

Reference parity: this is the reference's load→clean→store DAG shape
(dags/airflow_dags.py:28-314) at corpus scale; each stage cites the
standalone operator that proves its semantics differentially.

Scale shape: one corpus scan feeds flags + redaction (scan-local),
one hash shuffle for the dedup window (fingerprint key), the packing
prefix-sum exchange, and a partitioned write. Shards are grouped into
``shard_group`` directories (SHARDS_PER_DIR each) so the partition
count stays file-system-sane at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from etl_project_spark.catalog import load_table
from etl_project_spark.operators.dedup import _tokens
from etl_project_spark.operators.pipeline import PACK_BUCKET, SHARD_TOKENS
from etl_project_spark.operators.text import PII_EMAIL, PII_LONGNUM

SHARDS_PER_DIR = 64  # shard_group = shard_id // SHARDS_PER_DIR


def clean_corpus(
    spark: SparkSession,
    sf_dir: str,
    shard_tokens: int = SHARD_TOKENS,
    min_chars: int = 150,
    max_chars: int = 500,
    lang: str = "en",
    near_dup_threshold: float | None = None,
    dsir_target: str | None = None,
    epoch: int | None = None,
    token_counter: str = "whitespace",
) -> DataFrame:
    """The survivors of the cleaning cascade, packed into shards:
    (doc_id, source, shard_id, shard_group, n_tokens, text) where text
    is PII-redacted. Deterministic end to end — every stage reuses the
    exact column logic of its differentially-checked operator.

    With ``near_dup_threshold`` set, near-duplicate clusters (MinHash-
    LSH verified pairs at that Jaccard threshold → connected components,
    the dd4/dd7 path) are also collapsed to their minimum doc_id BEFORE
    the gates — the full-strength production dedup on top of the
    exact-fingerprint pass. The verified pairs are materialized once
    and counted, so below graph.GR_BCAST_EDGE_CAP edges the components
    are one single-task numpy kernel; above it the large-star/small-
    star rounds run.

    With ``dsir_target`` set, every surviving row carries
    ``dsir_logratio`` — pp7's importance weight of that source domain
    vs the raw corpus (scored on the PRE-selection corpus, the paper's
    setup, so selection can't bias the LMs) — ready for downstream
    resampling. With ``epoch`` set, rows carry ``position``: a dense
    0..n-1 deterministic training order over the survivors (pp6's
    two-phase bucketed row_number, the md5 key salted with the epoch
    number so each epoch reshuffles reproducibly).

    ``token_counter="bpe"`` budgets shards by REAL tokenizer counts
    (SURVEY §14.5 end-to-end): per-doc n_tokens comes from joining the
    exploded corpus against the materialized bpe cache table
    (operators.pipeline.materialize_bpe_cache — word → token count
    under the trained merges) instead of the whitespace approximation,
    so shards equalize TRAINING cost; bpe3 is the differentially-
    checked packer this path reuses the semantics of. Default stays
    "whitespace" — the pp1-exact contract existing tests pin."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens()))))
    first = Window.partitionBy("fp").orderBy("doc_id")
    # uniqueness is decided across the FULL corpus (first occurrence of
    # the fingerprint), THEN the gates apply — the same cascade pp3
    # audits, so the audit's n_survive equals this job's row count
    survivors = (
        docs.withColumn("fp", fp)
        .withColumn("rn", F.row_number().over(first))
        .filter(
            (F.col("rn") == 1)
            & F.col("n_chars").between(min_chars, max_chars)
            & (F.col("lang") == lang)
        )
        .drop("fp", "rn")
    )
    if near_dup_threshold is not None:
        from etl_project_spark.operators.dedup import (
            connected_components,
            lsh_verified_pairs,
        )

        # eager localCheckpoint, not persist: the ContextCleaner frees
        # the blocks once the result is unreferenced, where a persist
        # would pin a CacheManager entry for the session
        edges = (
            lsh_verified_pairs(
                spark,
                docs.select("doc_id", "text"),
                threshold=near_dup_threshold,
            )
            .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
            .localCheckpoint(eager=True)
        )
        losers = connected_components(
            edges, n_edges=edges.count()
        ).filter(F.col("node") != F.col("component"))
        survivors = survivors.join(
            losers.select(F.col("node").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
    low = F.lower(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(low, PII_EMAIL, "<EMAIL>"), PII_LONGNUM, "<NUM>"
    )
    if token_counter == "bpe":
        from etl_project_spark.operators.pipeline import (
            materialize_bpe_cache,
        )

        cache = materialize_bpe_cache(spark, sf_dir)
        # (doc, word) pre-aggregation before the cache join: map-side
        # combine shrinks the shuffle to distinct pairs — bpe3's shape
        bpe_counts = (
            docs.select("doc_id", F.explode(_tokens()).alias("w"))
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).alias("c"))
            .join(spark.table(cache), "w")
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * F.col("tc")).alias("n_tokens"))
        )
        d = (
            survivors.select(
                "doc_id",
                "source",
                redacted.alias("text"),
                (F.col("doc_id") / PACK_BUCKET).cast("long").alias("bucket"),
            )
            .join(bpe_counts, "doc_id")
            .filter(F.col("bucket").isNotNull())
        )
    else:
        d = survivors.select(
            "doc_id",
            "source",
            redacted.alias("text"),
            F.size(_tokens()).alias("n_tokens"),
            (F.col("doc_id") / PACK_BUCKET).cast("long").alias("bucket"),
        ).filter(F.col("bucket").isNotNull())  # ReuseExchange, see pp1
    in_bucket = Window.partitionBy("bucket").orderBy("doc_id")
    local = d.withColumn(
        "local_cum", F.sum("n_tokens").over(in_bucket) - F.col("n_tokens")
    )
    totals = local.groupBy("bucket").agg(
        F.max(F.col("local_cum") + F.col("n_tokens")).alias("bucket_total")
    )
    offsets = totals.withColumn(
        "offset",
        # (WindowExec "No Partition Defined" warning: expected — the
        # window covers only the bounded bucket-totals relation)
        F.sum("bucket_total").over(Window.orderBy("bucket"))
        - F.col("bucket_total"),
    ).select("bucket", "offset")
    shard = ((F.col("offset") + F.col("local_cum")) / shard_tokens).cast(
        "long"
    )
    out = local.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "source",
        "n_tokens",
        "text",
        shard.alias("shard_id"),
        (shard / SHARDS_PER_DIR).cast("long").alias("shard_group"),
    )
    if dsir_target is not None:
        out = out.join(
            _dsir_scores(docs, dsir_target), "doc_id", "left"
        )
    if epoch is not None:
        out = _with_epoch_positions(out, epoch)
    return out


def _dsir_scores(docs: DataFrame, target: str) -> DataFrame:
    """(doc_id, dsir_logratio): pp7's importance weight, scored over the
    given (pre-selection) corpus relation through the SAME
    dsir_score_tokens path the pp7 operator and the streaming twin use
    (one shared implementation, three consumers). The token stream is
    materialized once — it feeds both the vocabulary aggregate and the
    scoring join (the lm2/pp7 ReuseExchange lesson)."""
    from etl_project_spark.operators.pipeline import dsir_score_tokens

    tok = docs.select(
        "doc_id", "source", F.explode(_tokens()).alias("w")
    ).localCheckpoint()
    vocab = tok.groupBy("w").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum((F.col("source") == target).cast("long")).alias("ct"),
    )
    return dsir_score_tokens(tok, vocab).select(
        "doc_id", F.col("log_ratio").alias("dsir_logratio")
    )


def _with_epoch_positions(out: DataFrame, epoch: int) -> DataFrame:
    """Append ``position`` (dense 0..n-1, deterministic per epoch) via
    pp6's two-phase bucketed row_number over md5(epoch:doc_id) — no
    single-partition global window (see operators/pipeline.
    pp6_epoch_shuffle for the scale argument)."""
    key = F.md5(
        F.concat(F.lit(f"{epoch}:"), F.col("doc_id").cast("string"))
    )
    d = out.withColumn("_k", key).withColumn(
        "_b", F.substring("_k", 1, 2)
    )
    in_bucket = Window.partitionBy("_b").orderBy("_k", "doc_id")
    local = d.withColumn("_rn", F.row_number().over(in_bucket))
    totals = local.groupBy("_b").agg(F.max("_rn").alias("_n"))
    offs = totals.withColumn(
        # (bounded bucket relation — the WindowExec warning is expected)
        "_off", F.sum("_n").over(Window.orderBy("_b")) - F.col("_n")
    ).select("_b", "_off")
    return (
        local.join(F.broadcast(offs), "_b")
        .withColumn(
            "position", (F.col("_off") + F.col("_rn") - 1).cast("long")
        )
        .drop("_k", "_b", "_rn", "_off")
    )


def materialize_corpus(
    spark: SparkSession,
    sf_dir: str,
    table: str = "clean_corpus",
    **kwargs,
) -> Row:
    """Land the clean corpus as a managed table partitioned by
    shard_group and return the run audit (docs/tokens/shards written).
    Idempotent overwrite — re-running a day's build replaces it, the
    same contract as the daily-export sink (ingest/ohlcv.py)."""
    from etl_project_spark.sources.tables import _drop_table_and_location

    out = clean_corpus(spark, sf_dir, **kwargs)
    _drop_table_and_location(spark, table)
    (
        out.repartition("shard_group")
        .write.mode("overwrite")
        .partitionBy("shard_group")
        .format("parquet")
        .saveAsTable(table)
    )
    return (
        spark.table(table)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.countDistinct("shard_id").alias("n_shards"),
        )
        .collect()[0]
    )
