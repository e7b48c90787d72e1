"""Skew handling: the synthetic corpus puts ~30% of files in 2 giant
repos (FIXTURES.md). The pipeline's salted repartition on
xxhash64(repo, path) must spread those files across partitions at
FILE granularity — no partition may hold a disproportionate share."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataquality_cli_spark.plans.pipeline import run_pipeline


def test_salted_repartition_spreads_giant_repos(spark, corpus_df):
    n_parts = 16
    verdicts = run_pipeline(spark, corpus_df, salt_partitions=n_parts)
    sizes = (
        verdicts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    total = sum(r["count"] for r in sizes)
    biggest = max(r["count"] for r in sizes)
    # perfectly even would be 1/16 = 6.25%; a repo-keyed partitioning
    # would put >=15% in one partition (bigorg/monorepo{0,1} hold ~30%)
    assert biggest / total < 0.12, sorted(r["count"] for r in sizes)
    # file-level spread: each giant repo's files land on MANY partitions
    spread = (
        verdicts.filter(F.col("repo").startswith("bigorg/"))
        .withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert spread >= n_parts - 2


def test_all_rows_survive_salting(spark, corpus_df):
    assert run_pipeline(spark, corpus_df, salt_partitions=8).count() == corpus_df.count()


def test_run_pipeline_accepts_bc_factory(spark, corpus_df):
    """`bc` may be a zero-arg factory (the run_with_checkpoint /
    build_corpus_resumable contract) — run_pipeline must resolve it, so
    EVERY entry point that funnels here (the corpus build included) shares
    one contract instead of passing a function object into
    with_full_scores (regression: late AttributeError)."""
    from dataquality_cli_spark.functions.udfs import broadcast_models

    calls = []

    def factory():
        calls.append(1)
        return broadcast_models(spark)

    n = run_pipeline(spark, corpus_df.limit(20), bc=factory).count()
    assert n == 20
    assert calls == [1]
