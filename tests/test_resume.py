"""Checkpoint/resume idempotency (north rule): a job killed mid-run and
resumed produces verdicts + drop-reason manifest totals identical to an
uninterrupted run, and the manifest counts match the verdicts on disk."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataquality_cli_spark.plans import pipeline as P


def _verdict_fingerprint(spark, out_dir):
    df = P.read_verdicts(spark, out_dir)
    rows = df.select("repo", "path", "keep", "drop_reason", "scrubbed_sha256").collect()
    return sorted((r.repo, r.path, r.keep, r.drop_reason, r.scrubbed_sha256) for r in rows)


def _manifest_totals(spark, out_dir):
    """Per-drop_reason (n, scrub_hits) summed over the manifest, checked
    against the same counts over the verdicts on disk; each part records
    each drop_reason once. The zero row that marks an empty part done
    counts nothing, so a group summing to n = 0 has no verdicts."""
    m = spark.read.parquet(os.path.join(out_dir, "_manifest"))
    keys = [(r.part_id, r.drop_reason) for r in m.select("part_id", "drop_reason").collect()]
    assert len(keys) == len(set(keys)), "a (part_id, drop_reason) pair repeats"
    got = {r.drop_reason: (r.n, r.scrub_hits) for r in m.groupBy("drop_reason").agg(
        F.sum("n").alias("n"), F.sum("scrub_hits").alias("scrub_hits")).collect()
        if r.n > 0}
    want = {r.drop_reason: (r.n, r.scrub_hits)
            for r in P.read_verdicts(spark, out_dir).groupBy("drop_reason").agg(
                F.count("*").alias("n"),
                F.sum("total_scrub_hits").alias("scrub_hits")).collect()}
    assert got == want
    return got


def test_resume_after_kill_matches_clean_run(spark, corpus_df, tmp_path):
    clean_dir = str(tmp_path / "clean")
    resumed_dir = str(tmp_path / "resumed")
    n_parts = 8

    P.run_with_checkpoint(spark, corpus_df, clean_dir, n_parts=n_parts)

    with pytest.raises(RuntimeError, match="simulated"):
        P.run_with_checkpoint(spark, corpus_df, resumed_dir, n_parts=n_parts,
                              fail_after_parts=3)
    done_after_kill = P.completed_parts(spark, resumed_dir)
    assert 0 < len(done_after_kill) < n_parts

    P.run_with_checkpoint(spark, corpus_df, resumed_dir, n_parts=n_parts)
    assert len(P.completed_parts(spark, resumed_dir)) == n_parts

    assert _verdict_fingerprint(spark, resumed_dir) == _verdict_fingerprint(spark, clean_dir)
    assert _manifest_totals(spark, resumed_dir) == _manifest_totals(spark, clean_dir)


def test_checkpoint_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic partition overwrite is an option of the data write: each
    part's write keeps the parts before it even under a static session,
    and the session keeps its own mode, so a later partitioned overwrite
    in the same session still replaces the whole table."""
    from dataquality_cli_spark.sources.synth import corpus_to_rows, gen_corpus

    df = spark.createDataFrame(
        corpus_to_rows(gen_corpus(40, seed=13)),
        "repo string, path string, commit string, lang string, content string")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        out = str(tmp_path / "out")
        P.run_with_checkpoint(spark, df, out, n_parts=2)
        assert spark.conf.get(key) == "STATIC"
        assert P.read_verdicts(spark, out).count() == 40
    finally:
        spark.conf.set(key, prev)


def test_checkpoint_with_empty_parts(spark, tmp_path):
    """A part that receives no rows writes no data but one zero manifest
    row, so it is done: a rerun resolves no bc factory (no model training
    for zero rows) and re-scores nothing; an empty input marks every
    part done."""
    from dataquality_cli_spark.functions.udfs import broadcast_models
    from dataquality_cli_spark.sources.synth import corpus_to_rows, gen_corpus

    schema = "repo string, path string, commit string, lang string, content string"
    df = spark.createDataFrame(corpus_to_rows(gen_corpus(3, seed=99)), schema)
    out = str(tmp_path / "few")
    P.run_with_checkpoint(spark, df, out, n_parts=8)
    assert P.read_verdicts(spark, out).count() == 3
    assert sum(n for n, _ in _manifest_totals(spark, out).values()) == 3
    assert P.completed_parts(spark, out) == set(range(8))

    calls = []

    def factory():
        calls.append(1)
        return broadcast_models(spark)

    P.run_with_checkpoint(spark, df, out, n_parts=8, bc=factory)
    assert calls == []
    assert P.read_verdicts(spark, out).count() == 3

    empty = str(tmp_path / "empty")
    P.run_with_checkpoint(spark, spark.createDataFrame([], schema), empty, n_parts=2)
    assert P.completed_parts(spark, empty) == {0, 1}


def test_rerun_is_noop(spark, corpus_df, tmp_path):
    out = str(tmp_path / "once")
    P.run_with_checkpoint(spark, corpus_df, out, n_parts=4)
    fp1 = _verdict_fingerprint(spark, out)
    P.run_with_checkpoint(spark, corpus_df, out, n_parts=4)  # all parts done -> noop
    assert _verdict_fingerprint(spark, out) == fp1


def test_run_with_checkpoint_bc_factory_lazy_on_resume(spark, tmp_path):
    """A bc FACTORY passed to run_with_checkpoint is invoked once on a
    fresh run and NOT invoked when every partition is already in the
    manifest (a fully-resumed --train-models rerun must not pay two
    corpus training passes for zero work)."""
    from dataquality_cli_spark.functions.udfs import broadcast_models
    from dataquality_cli_spark.plans.pipeline import (
        read_verdicts, run_with_checkpoint)
    from dataquality_cli_spark.sources.synth import corpus_to_rows, gen_corpus

    df = spark.createDataFrame(
        corpus_to_rows(gen_corpus(40, seed=13)),
        "repo string, path string, commit string, lang string, content string")
    calls = []

    def factory():
        calls.append(1)
        return broadcast_models(spark)

    out = str(tmp_path / "out")
    run_with_checkpoint(spark, df, out, n_parts=4, bc=factory)
    assert calls == [1]
    n1 = read_verdicts(spark, out).count()
    run_with_checkpoint(spark, df, out, n_parts=4, bc=factory)  # resume
    assert calls == [1]  # factory NOT re-invoked
    assert read_verdicts(spark, out).count() == n1
