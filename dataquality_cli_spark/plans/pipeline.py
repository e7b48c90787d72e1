"""The quality-filter pipeline: heuristics -> perplexity -> langid ->
verdict -> scrub, composed as ONE narrow projection chain (no shuffle in
the verdict path — every stage is per-row, so at 100 TB the job is pure
scan + map; the only shuffles are the optional salt repartition and the
metrics aggregation, both bounded).

Plan shape (``.explain``): parquet scan (pruned to the 5 input cols) ->
salt Exchange -> ArrowEvalPython (ONE fused UDF: langid + ppl +
heuristic metrics + scrub, functions/textmetrics.py) -> project
(verdict CASE + sha2). Cheap heuristic failures short-circuit the model
stages at the semantic level via drop-reason precedence
(config.DROP_REASON_ORDER).

Checkpoint/resume: verdicts are written partitioned by ``part_id =
pmod(xxhash64(repo, path), n_parts)``; a metrics table records completed
partitions; a rerun anti-joins completed part_ids and only processes the
remainder (idempotent — deterministic UDFs, no time/random dependence).
Each part is scored once: its manifest counts are read back from the
partition just written (an empty part records one zero row, so it is done
too). Dynamic overwrite is an option of that write only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as C
from ..functions.udfs import broadcast_models, with_full_scores

INPUT_COLS = ("repo", "path", "commit", "lang", "content")


def apply_verdict(scored: DataFrame) -> DataFrame:
    """drop_reason = first failing rule in pinned precedence order; scrub
    output gated on keep. Every reference here is a cheap struct-field
    extraction of the fused-UDF output (the ArrowEvalPython node is a
    CollapseProject barrier, so nothing heavy is ever recomputed).
    Thresholds come from config, shared with oracle.py."""
    fails = {
        "blank_ratio": F.col("blank_ratio") > C.BLANK_RATIO_MAX,
        "line_length": (F.col("max_line_len") > C.MAX_LINE_LEN)
        | (F.col("mean_line_len") > C.MEAN_LINE_LEN_MAX),
        "alnum": F.col("alnum_fraction") < C.ALNUM_FRACTION_MIN,
        "dup_lines": (F.col("dup_line_ratio") > C.DUP_LINE_RATIO_MAX)
        & (F.col("n_nonblank_lines") >= C.DUP_LINE_MIN_LINES),
        "max_token": F.col("max_token_len") > C.MAX_TOKEN_LEN,
        "perplexity": F.col("ppl") > C.PPL_MAX,
        "langid": F.col("langid_pred") == C.LANGID_PROSE_CLASS,
    }

    reason = F.lit(None).cast("string")
    for r in reversed(C.DROP_REASON_ORDER):
        reason = F.when(fails[r], F.lit(r)).otherwise(reason)
    out = scored.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )
    total_hits = F.lit(0).cast("long")
    for name, _p, _r in C.SCRUB_RULES:
        total_hits = total_hits + F.col(f"hits_{name}")
    out = out.withColumn("total_scrub_hits", total_hits)
    out = (
        out.withColumn(
            "scrubbed_content",
            F.when(F.col("keep"), F.col("scrubbed")).otherwise(F.lit(None)),
        )
        .withColumn(
            "scrubbed_sha256",
            F.when(F.col("keep"), F.sha2(F.col("scrubbed"), 256)),
        )
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )
    return out.drop("scrubbed")


def run_pipeline(spark: SparkSession, df: DataFrame, *, salt_partitions: int | None = None,
                 bc=None) -> DataFrame:
    """Full verdict DataFrame.

    Plan shape: scan -> Exchange(salted on xxhash64(repo, path), breaks
    giant-repo skew) -> ArrowEvalPython(ONE fused UDF: langid + ppl +
    heuristic metrics + scrub; Python worker processes have isolated
    heaps, so this scales where interpreted JVM array expressions went
    GC-bound — see functions/textmetrics.py) -> Project(verdict CASE +
    sha2) -> sink. One shuffle total; the scan reads only the 5 input
    columns."""
    salt_partitions = salt_partitions or spark.sparkContext.defaultParallelism * 2
    staged = df.repartition(salt_partitions, F.xxhash64("repo", "path"))
    # bc may be a zero-arg factory (the run_with_checkpoint /
    # build_corpus_resumable contract) — resolve it HERE so every entry
    # point that funnels into run_pipeline shares one contract; a truthy
    # function object must not survive the `or` into with_full_scores
    bc = bc() if callable(bc) else bc
    bc = bc or broadcast_models(spark)
    return apply_verdict(with_full_scores(staged, bc))


VERDICT_COLS = [
    "repo", "path", "commit", "lang", "keep", "drop_reason",
    "blank_ratio", "max_line_len", "mean_line_len", "alnum_fraction",
    "dup_line_ratio", "max_token_len", "langid_pred", "ppl",
    "total_scrub_hits", "scrubbed_content", "content_sha256", "scrubbed_sha256",
]


# ---------------------------------------------------------------------------
# checkpointed / resumable run (north rule: per-partition lineage + metrics,
# idempotent resume). Local parquet stands in for Iceberg (SURVEY.md §7) —
# the layout (data partitioned by part_id + a completion-manifest table)
# maps 1:1 onto an Iceberg table + snapshot metadata.
# ---------------------------------------------------------------------------

def _with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("repo", "path"), F.lit(n_parts)).cast("int")
    )


def parquet_files(spark: SparkSession, path: str) -> list[str] | None:
    """The parquet part files directly under ``path``, listed through
    the Hadoop FileSystem of the path (so hdfs://... / s3a://... dirs
    work, where an os.path probe is always False), or None when ``path``
    does not exist.

    Every resume read goes through it: probing first means a fresh dir
    logs no failed read, and reading the listed files rather than the
    directory means Spark never sees an underscore-named root, which it
    treats as hidden and warns that it ignored (a glob path instead logs
    a failed metadata-dir probe). The read that follows stays strict: a
    dir with no part files, or a corrupt one, raises."""
    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return None
    return [st.getPath().toString()
            for st in fs.globStatus(Path(root, "*.parquet"))]


def completed_parts(spark: SparkSession, out_dir: str) -> set[int]:
    """Completed partition ids from the manifest, read through SPARK so
    resume also works for hdfs://... / s3a://... output dirs.
    Iceberg deployment: a snapshot-metadata query instead. A missing
    manifest means nothing is done yet; a schema-drifted/corrupt one
    raises loudly rather than being misread as 'not written yet' (which
    would silently reprocess every partition and double-append
    metrics)."""
    files = parquet_files(spark, os.path.join(out_dir, "_manifest"))
    if files is None:
        return set()
    mdf = spark.read.parquet(*files)
    return {r.part_id for r in mdf.select("part_id").distinct().collect()}


def run_with_checkpoint(spark: SparkSession, df: DataFrame, out_dir: str,
                        n_parts: int = 16, run_id: str = "run0",
                        fail_after_parts: int | None = None,
                        bc=None) -> None:
    """Process partition groups one at a time, appending data THEN the
    manifest row (atomic-enough ordering: a partition is only marked done
    after its data is fully written; rerun overwrites any partial
    unmarked partition via dynamic partition overwrite, an option of the
    data write alone). Each part is scored once: its manifest rows are
    counted from the partition just written; a part that received no rows
    writes no partition and records one zero row instead.

    ``fail_after_parts`` is a test hook simulating a mid-job kill.
    ``bc``: an existing model broadcast, or a ZERO-ARG FACTORY for one
    (e.g. corpus-trained via functions.models.corpus_trained_models_bc);
    defaults to the fixture-trained models. Resolution is deferred
    until after the manifest check, so a fully-resumed run — nothing
    left to process — never pays a model-training pass.
    """
    done = completed_parts(spark, out_dir)
    parts = [p for p in range(n_parts) if p not in done]
    if not parts:
        return
    bc = bc() if callable(bc) else bc
    bc = bc or broadcast_models(spark)
    staged = _with_part_id(df, n_parts)
    data_dir = os.path.join(out_dir, "data")
    manifest = os.path.join(out_dir, "_manifest")

    for i, p in enumerate(parts):
        if fail_after_parts is not None and i >= fail_after_parts:
            raise RuntimeError("simulated mid-job failure")
        chunk = staged.filter(F.col("part_id") == p)
        verdicts = run_pipeline(spark, chunk, bc=bc).select(*VERDICT_COLS, "part_id")
        (verdicts.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("part_id").parquet(data_dir))
        if parquet_files(spark, os.path.join(data_dir, f"part_id={p}")) is None:
            # an empty part writes no partition: one zero row still marks
            # it done, so a rerun neither re-scores it nor resolves bc
            metrics = spark.createDataFrame(
                [(None, 0, 0, p, run_id)],
                "drop_reason string, n long, scrub_hits long, part_id int, run_id string")
        else:
            metrics = (
                spark.read.schema(verdicts.schema).parquet(data_dir).where(F.col("part_id") == p)
                .groupBy("drop_reason")
                .agg(F.count("*").alias("n"), F.sum("total_scrub_hits").alias("scrub_hits"))
                .withColumn("part_id", F.lit(p))
                .withColumn("run_id", F.lit(run_id))
            )
        metrics.write.mode("append").parquet(manifest)


def read_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))
