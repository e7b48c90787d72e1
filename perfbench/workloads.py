"""The benchmark's workloads. Each drives the package through its public
functions only: it generates its inputs from a seed (gen.py), registers
them with the session, and runs two op kinds, ``main`` and ``alt``.

Every op ends in the value hash of its output (row count and the
bit_xor of xxhash64 over each row), so the whole output is computed and
two outputs compare by one small tuple.
"""

from __future__ import annotations

import os
import random
import shutil

import gen

MB = 1024 * 1024


def value_hash(df, keep=None) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64(row)) over every column of df. With
    ``keep``, the hashing DataFrame is left on keep.hashed, so its
    executed plan can be read after the action."""
    from pyspark.sql import functions as F

    hashed = (df.select(F.xxhash64(F.struct(*df.columns)).alias("h"))
              .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")))
    if keep is not None:
        keep.hashed = hashed
    row = hashed.collect()[0]
    return int(row.n), int(row.x or 0)


class Workload:
    name = ""
    records = 0  # input records each op consumes

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.expected: dict[str, tuple[int, int]] = {}
        self._n_ops = 0

    def fresh_dir(self, tag: str) -> str:
        self._n_ops += 1
        return os.path.join(self.work, f"{tag}-{self._n_ops}")

    def check(self, kind: str, value) -> bool:
        """The first output of each op kind in a process is the seed's
        recorded value hash; every later output must equal it. The run
        prints the recorded hashes, so runs of one seed compare too.
        None (an output result() found wrong) fails."""
        if value is None:
            return False
        key = self.hash_key(kind)
        if key not in self.expected:
            self.expected[key] = value
        return value == self.expected[key]

    def hash_key(self, kind: str) -> str:
        return kind

    def result(self, kind: str, value):
        """The value to check, or None for an output found wrong; may do
        work outside the op's clock."""
        return value

    def setup_probes(self, spark, spans) -> dict:
        return {}

    def trace_extras(self, spans) -> dict:
        return {}


# ---------------------------------------------------------------------------
# filter: the quality-filter pipeline over synthetic code files
# ---------------------------------------------------------------------------

class Filter(Workload):
    """main: plans.pipeline.run_pipeline, materialized by value hash.
    alt: plans.pipeline.run_with_checkpoint into a fresh directory, in
    n_parts parts, each with its own data and manifest write jobs; its
    output, read back, must hash the same as main's verdicts."""

    name = "filter"
    records = 1000
    # one part: its data and manifest write jobs run once per op. Each
    # part adds ~2 s of job overhead on 4 cores, and a run must settle
    # every op kind in about a minute: two parts made a filter run ~14 s
    # longer, and the package default of 16 would make one alt op
    # longer than a whole run.
    n_parts = 1
    oracle_sample = 200

    def generate(self) -> dict:
        import pyarrow as pa

        rows = gen.code_files(self.records, self.seed)
        self.input = os.path.join(self.work, "code_files.parquet")
        gen.write_parquet(self.input, ("repo", "path", "commit", "lang", "content"),
                          (pa.string(),) * 5, rows)
        self._sample = random.Random(self.seed).sample(rows, self.oracle_sample)
        return {"files": len(rows), "digest": gen.digest_rows(rows)}

    def register(self, spark, spans) -> None:
        from dataquality_cli_spark.functions.udfs import broadcast_models

        self.spark = spark
        with spans.span("models.broadcast") as s:
            self.bc = broadcast_models(spark)
        self.broadcast_s = s["end"] - s["start"]
        self.df = spark.read.parquet(self.input)

    def hash_key(self, kind: str) -> str:
        return "verdicts"

    def verdicts(self, df):
        from dataquality_cli_spark.plans import pipeline as P

        return P.run_pipeline(self.spark, df, bc=self.bc).select(*P.VERDICT_COLS)

    def op(self, kind: str):
        if kind == "main":
            return value_hash(self.verdicts(self.df))
        self.last_out = self.fresh_dir("checkpoint")
        self.checkpoint(self.last_out)
        return None

    def checkpoint(self, out_dir: str) -> None:
        from dataquality_cli_spark.plans import pipeline as P

        P.run_with_checkpoint(self.spark, self.df, out_dir, n_parts=self.n_parts,
                              run_id="bench", bc=self.bc)

    def result(self, kind: str, value):
        """Value to check, computed outside the clock for alt."""
        if kind == "main":
            return value
        from dataquality_cli_spark.plans import pipeline as P

        got = value_hash(P.read_verdicts(self.spark, self.last_out).select(*P.VERDICT_COLS))
        shutil.rmtree(self.last_out, ignore_errors=True)
        return got

    def independent_check(self) -> tuple[bool, dict]:
        """keep/drop of a seeded sample agrees with oracle.judge_corpus
        on at least 99 % of rows, as the package's parity test asks."""
        from collections import namedtuple

        from dataquality_cli_spark import oracle

        Row = namedtuple("Row", "repo path commit lang content")
        sample = [Row(*r) for r in self._sample]
        want = {(o.repo, o.path): o.keep for o in oracle.judge_corpus(sample)}
        sdf = self.spark.createDataFrame(
            self._sample, "repo string, path string, commit string, lang string, content string")
        got = {(r.repo, r.path): r.keep
               for r in self.verdicts(sdf).select("repo", "path", "keep").collect()}
        agree = sum(got.get(k) == v for k, v in want.items()) / len(want)
        kept = sum(want.values())
        return agree >= 0.99 and 0 < kept < len(want), {
            "oracle_agreement": agree, "oracle_sample": len(want), "oracle_kept": kept}

    def setup_probes(self, spark, spans) -> dict:
        """Driver-side layer probes that need no Spark job."""
        from dataquality_cli_spark.functions.models import get_models
        from dataquality_cli_spark.functions.textmetrics import score_batch

        texts = [r[4] for r in gen.code_files(2000, seed=0)]
        langid, lm = get_models()
        with spans.span("textmetrics.score_batch") as s:
            score_batch(texts, langid, lm)
        return {"models.broadcast_s": self.broadcast_s,
                "textmetrics.score_batch_s": s["end"] - s["start"]}

    def traced_op(self, kind: str, spans) -> tuple[object, dict]:
        """The op with each layer materialized in its own span; returns
        its output and the layer times."""
        if kind == "main":
            from dataquality_cli_spark.plans import pipeline as P

            with spans.span("pipeline.plan") as s:
                out = P.run_pipeline(self.spark, self.df, bc=self.bc).select(*P.VERDICT_COLS)
            with spans.span("udfs.action"):
                value = value_hash(out, keep=self)
            return value, {"pipeline.plan_s": s["end"] - s["start"]}
        self.last_out = self.fresh_dir("checkpoint")
        with spans.span("checkpoint.run") as s:
            self.checkpoint(self.last_out)
        return None, {"checkpoint.s_per_part": (s["end"] - s["start"]) / self.n_parts}

    def layer_counters(self, kind: str, counters, group: str) -> dict:
        """Counters of the op just run, read after its clock stopped."""
        from tracing import sum_metric

        if kind == "main":
            nodes = counters.plan_metrics(self.hashed)
            return {
                "pipeline.shuffle_write_mb": sum_metric(nodes, "Exchange", "shuffleBytesWritten") / MB,
                "udfs.python_boot_s": sum_metric(nodes, "ArrowEvalPython", "pythonBootTime") / 1e3,
                "udfs.python_init_s": sum_metric(nodes, "ArrowEvalPython", "pythonInitTime") / 1e3,
                "udfs.python_total_s": sum_metric(nodes, "ArrowEvalPython", "pythonTotalTime") / 1e3,
                "udfs.python_data_sent_mb": sum_metric(nodes, "ArrowEvalPython", "pythonDataSent") / MB,
            }
        tot = counters.group_totals(group)
        return {"checkpoint.jobs": tot["jobs"], "checkpoint.write_mb": tot["output_bytes"] / MB}


# ---------------------------------------------------------------------------
# dedup: exact -> near-dup chain, and semantic dedup
# ---------------------------------------------------------------------------

class Dedup(Workload):
    """main: the CLI's `dedup --mode near` composition: dedup_keep_first,
    semi-join, lsh_verified_pairs(0.7), neardup_clusters, anti-join of
    the non-root members. alt: similarity.semantic_dedup_text. Each op
    materializes its output once and returns its value hash and rows,
    as a caller that keeps the survivors would."""

    name = "dedup"
    thousands = 1
    threshold = 0.7
    semantic_threshold = 0.9
    min_recall = 0.9  # share of planted near copies the near-dup ops must remove
    verified = 0  # verified pairs of the last traced main op

    @property
    def records(self) -> int:
        return gen.dedup_plan(self.thousands)["docs"]

    def generate(self) -> dict:
        import pyarrow as pa

        rows, self.clusters = gen.dedup_docs(self.thousands, self.seed)
        self.text_of = dict(rows)
        self.layouts: dict[str, dict] = {}
        self.input = os.path.join(self.work, "docs.parquet")
        gen.write_parquet(self.input, ("doc_id", "text"), (pa.int64(), pa.string()), rows)
        return {"docs": len(rows), "digest": gen.digest_rows(rows),
                "plan": gen.dedup_plan(self.thousands)}

    def register(self, spark, spans) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.input)

    def exact_survivors(self):
        from dataquality_cli_spark.operators import dedup as D

        keep = D.dedup_keep_first(self.df, "text").select("doc_id")
        return self.df.join(keep, "doc_id", "left_semi")

    def near(self, cur, pairs, metrics: dict | None = None):
        from dataquality_cli_spark.operators import dedup as D
        from pyspark.sql import functions as F

        clusters = D.neardup_clusters(pairs, metrics_out=metrics)
        losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        return cur.join(losers, "doc_id", "left_anti")

    def semantic(self):
        from dataquality_cli_spark.operators.similarity import semantic_dedup_text

        return semantic_dedup_text(self.df, threshold=self.semantic_threshold, text_col="text")

    def near_chain(self, finish):
        """finish(output of the near chain), with the exact survivors
        persisted while it runs."""
        from dataquality_cli_spark.operators import dedup as D

        cur = self.exact_survivors().persist()
        try:
            cur.count()
            pairs = D.lsh_verified_pairs(cur, text_col="text", threshold=self.threshold)
            return finish(self.near(cur, pairs))
        finally:
            cur.unpersist()

    @staticmethod
    def survivors(df) -> tuple[tuple[int, int], list[tuple[int, str]]]:
        """Materializes df once: its value hash and its (doc_id, text) rows."""
        df = df.persist()
        try:
            return value_hash(df), [tuple(r) for r in df.select("doc_id", "text").collect()]
        finally:
            df.unpersist()

    def op(self, kind: str):
        if kind == "alt":
            return self.survivors(self.semantic())
        return self.near_chain(self.survivors)

    def result(self, kind: str, value):
        """The output's value hash, or None if its rows break the planted
        layout (see layout); checked on every op, outside its clock."""
        hashed, rows = value
        self.layouts[kind] = self.layout(rows)
        return hashed if self.layouts[kind]["ok"] else None

    def layout(self, rows: list[tuple[int, str]]) -> dict:
        """How near-dup output rows sit on the planted clusters. They
        must be input rows unchanged, repeat no text, keep every
        singleton, empty no planted cluster, and remove at least
        min_recall of the planted near copies in clusters of 2-5 (LSH
        and the similarity threshold miss a few, so not all)."""
        texts = [t for _i, t in rows]
        kept = set(texts)
        per = [(len(c), sum(t in kept for t in c)) for c in self.clusters]
        small = [(n, k) for n, k in per if 2 <= n <= 5]
        out = {"survivors": len(rows),
               "changed_rows": sum(self.text_of.get(i) != t for i, t in rows),
               "repeated_texts": len(texts) - len(kept),
               "singletons_dropped": sum(k == 0 for n, k in per if n == 1),
               "clusters_emptied": sum(k == 0 for _n, k in per),
               "copy_recall": sum(n - k for n, k in small) / sum(n - 1 for n, _k in small)}
        out["ok"] = out["changed_rows"] == out["repeated_texts"] == 0 \
            and out["singletons_dropped"] == out["clusters_emptied"] == 0 \
            and out["copy_recall"] >= self.min_recall
        return out

    def independent_check(self) -> tuple[bool, dict]:
        """Exact dedup keeps exactly the planted distinct texts, once
        each. The detail adds the layout of the last output of each op
        kind; every op's output was checked against it."""
        distinct = {t for c in self.clusters for t in c}
        texts = [r.text for r in self.exact_survivors().select("text").collect()]
        ok = len(texts) == len(distinct) and set(texts) == distinct
        return ok, {"exact_survivors": len(texts), "planted_distinct": len(distinct),
                    "last_layout": self.layouts}

    def traced_op(self, kind: str, spans) -> tuple[object, dict]:
        if kind == "alt":
            with spans.span("similarity.semantic_dedup_text"):
                return self.op("alt"), {}
        from dataquality_cli_spark.operators import dedup as D

        lsh: dict = {}
        rounds: dict = {}
        with spans.span("dedup.exact") as s_exact:
            cur = self.exact_survivors().persist()
            cur.count()
        with spans.span("dedup.lsh_pairs") as s_lsh:
            pairs = D.lsh_verified_pairs(cur, text_col="text", threshold=self.threshold,
                                         metrics_out=lsh).persist()
            self.verified = pairs.count()
        with spans.span("dedup.clusters") as s_cl:
            value = self.survivors(self.near(cur, pairs, rounds))
        pairs.unpersist()
        cur.unpersist()
        return value, {
            "dedup.exact_s": s_exact["end"] - s_exact["start"],
            "dedup.lsh_pairs_s": s_lsh["end"] - s_lsh["start"],
            "dedup.clusters_s": s_cl["end"] - s_cl["start"],
            "dedup.cluster_rounds": rounds.get("rounds", 0),
            "dedup.verified_pairs": self.verified,
            "dedup.dropped_buckets": lsh.get("dropped_buckets", 0),
        }

    def layer_counters(self, kind: str, counters, group: str) -> dict:
        tot = counters.group_totals(group)
        if kind == "main":
            return {"dedup.shuffle_write_mb": tot["shuffle_write"] / MB}
        sql = counters.group_sql_metrics(group, ("Python", "Pandas", "Arrow"))
        return {"similarity.jobs": tot["jobs"],
                "similarity.python_total_s": sum(
                    v for (_node, m), v in sql.items() if m == "time to run Python workers") / 1e3}

    def trace_extras(self, spans) -> dict:
        """Candidate pairs, counted apart from any op's clock, and the
        share of them the last traced main op verified."""
        from dataquality_cli_spark.operators import dedup as D

        with spans.span("dedup.candidates"):
            cur = self.exact_survivors()
            cand = D.lsh_candidate_pairs(cur, "text", D.DEFAULT_MAX_BUCKET).count()
        return {"dedup.candidate_pairs": cand,
                "dedup.verify_yield": self.verified / cand if cand else 0.0}


WORKLOADS = {w.name: w for w in (Filter, Dedup)}
