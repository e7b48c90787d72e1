"""A checkpointed run logs nothing about the resume manifest: neither the
first run into a new output dir (no failed read of a manifest that does
not exist yet) nor a rerun into the same dir (no hidden-path warning for
the underscore-named manifest it reads)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FRESH_RUN = """
import os, sys
sys.path.insert(0, {repo!r})
from dataquality_cli_spark.plans import pipeline as P
from dataquality_cli_spark.session import get_spark
from dataquality_cli_spark.sources.synth import corpus_to_rows, gen_corpus

spark = get_spark(master="local[2]", shuffle_partitions=2)
df = spark.createDataFrame(
    corpus_to_rows(gen_corpus(20, seed=5)),
    "repo string, path string, commit string, lang string, content string")
P.run_with_checkpoint(spark, df, {out!r}, n_parts=2)
print("wrote", sorted(os.listdir({out!r})))
P.run_with_checkpoint(spark, df, {out!r}, n_parts=2)
print("resumed", sorted(P.completed_parts(spark, {out!r})))
spark.stop()
"""


def test_fresh_checkpoint_dir_logs_no_manifest_trace(tmp_path, capfd):
    """The JVM writes its log to the stderr it inherited, so the runs go
    through a fresh interpreter (and JVM) started under capfd: a first
    run, then a rerun into the same dir that reads the written manifest
    (every part done, so it processes nothing) and would log Spark's
    "All paths were ignored" warning if it read the '_manifest' dir
    itself rather than its part files."""
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "-c", FRESH_RUN.format(repo=REPO, out=out)],
        timeout=300, cwd=REPO)
    stdout, stderr = capfd.readouterr()
    assert proc.returncode == 0, stderr[-2000:]
    assert "wrote ['_manifest', 'data']" in stdout
    assert "resumed [0, 1]" in stdout
    assert "All paths were ignored" not in stderr, stderr[-2000:]
    assert "_manifest" not in stderr, stderr[-2000:]


CORPUS_BUILD = """
import sys
sys.path.insert(0, {repo!r})
from dataquality_cli_spark.jobs.corpus_build_job import build_corpus_resumable
from dataquality_cli_spark.session import get_spark
from dataquality_cli_spark.sources.synth import corpus_to_rows, gen_corpus

spark = get_spark(master="local[2]", shuffle_partitions=2)
df = spark.createDataFrame(
    corpus_to_rows(gen_corpus(20, seed=5)),
    "repo string, path string, commit string, lang string, content string")
m1 = build_corpus_resumable(spark, df, {out!r}, val_fraction=0.1)
m2 = build_corpus_resumable(spark, df, {out!r}, val_fraction=0.1)
print("same metrics", m1 == m2, m1["input"])
spark.stop()
"""


def test_corpus_build_manifest_reads_log_nothing(tmp_path, capfd):
    """A corpus build into a new out_dir, then a rerun into the same dir:
    neither logs a failed read of the stage manifest or the params table
    (not written yet on the first run) nor a hidden-path warning for
    their underscore-named dirs (read on the rerun)."""
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "-c", CORPUS_BUILD.format(repo=REPO, out=out)],
        timeout=300, cwd=REPO)
    stdout, stderr = capfd.readouterr()
    assert proc.returncode == 0, stderr[-2000:]
    assert "same metrics True 20" in stdout
    assert "All paths were ignored" not in stderr, stderr[-2000:]
    assert "_stage_manifest" not in stderr, stderr[-2000:]
    assert "_params" not in stderr, stderr[-2000:]
