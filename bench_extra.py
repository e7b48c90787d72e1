"""Per-query isolation bench + plan capture (guide §1) — NOT the frozen
driver bench. Times individual declared queries with the same
materialize() methodology as bench.py (best/median of N), optionally
with a noop sink, and writes .explain("formatted") to plans/r07/.

Usage:
  python bench_extra.py time q1 [q2 ...] [--reps 3] [--noop]
  python bench_extra.py plan q1 [q2 ...] [--suffix before]
  python bench_extra.py all            # time every headline query
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from __spark_entry__ import queries
from dataquality_cli_spark.session import get_spark

HEADLINE = [
    "doc_quality_verdict", "a5_group_aggregates", "a10_quantiles_exact",
    "dedup_minhash_signatures", "dedup_lsh_pairs",
    "doc_remove_repeated_spans", "doc_tfidf_terms", "corpus_bigram_lm",
    "ann_cosine_topk", "emb_semantic_dedup", "code_function_units",
    "code_import_graph", "events_hourly", "events_sessionize",
    "events_asof_join", "events_range_join", "q5_regional_revenue",
]


def materialize(df) -> int:
    hashed = df.select(F.xxhash64(F.struct(*df.columns)).alias("h"))
    row = hashed.agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")
    ).collect()[0]
    return row.n


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", nargs="?", default="all",
                    choices=["time", "plan", "all"])
    ap.add_argument("names", nargs="*", help="query names (default: HEADLINE)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true",
                    help="write to the noop sink instead of hashing rows")
    ap.add_argument("--suffix", default="before",
                    help="plan file suffix: plans/r07/<name>_<suffix>.txt")
    return ap.parse_intermixed_args(argv)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = parse_args()

    spark = get_spark(app="dq-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    names = args.names or HEADLINE
    if args.mode == "all":
        names = HEADLINE

    # warmup: JVM + parquet footers + Python worker pool
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    if args.mode == "plan":
        os.makedirs("plans/r07", exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            path = f"plans/r07/{name}_{args.suffix}.txt"
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        spark.stop()
        return

    out: dict[str, dict] = {}
    for name in names:
        samples = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            if args.noop:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
            else:
                materialize(qs[name](spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}))
    print(json.dumps({"summary": {k: v["min"] for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
