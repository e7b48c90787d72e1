"""What each per-layer metric of the traced run should move.

BENCHMARK.json lists the per-layer metrics with their units; it has no
field for this prediction, so it lives here, keyed by the same names.
A metric named ``X.alt`` is X measured on the ``alt`` op; a plain name
is measured on ``main``. A metric whose layer a workload never calls
reads 0 on that workload: that zero is the prediction "no change".
"""

# name -> (end-to-end metric it should move, on which workload)
MOVES = {
    "session.start_s": ("setup_s", "all"),
    "models.broadcast_s": ("setup_s", "filter"),
    "textmetrics.score_batch_s": ("main_per_s", "filter; no change on dedup"),
    "udfs.python_boot_s": ("first_op_s", "filter"),
    "udfs.python_init_s": ("first_op_s", "filter"),
    "udfs.python_total_s": ("main_per_s", "filter"),
    "udfs.python_data_sent_mb": ("main_per_s", "filter"),
    "pipeline.plan_s": ("first_op_s, main_per_s", "filter"),
    "pipeline.shuffle_write_mb": ("main_per_s", "filter"),
    "checkpoint.jobs": ("alt_per_s", "filter"),
    "checkpoint.s_per_part": ("alt_per_s", "filter"),
    "checkpoint.write_mb": ("alt_per_s", "filter"),
    "dedup.exact_s": ("main_per_s", "dedup"),
    "dedup.lsh_pairs_s": ("main_per_s", "dedup"),
    "dedup.clusters_s": ("main_per_s", "dedup"),
    "dedup.cluster_rounds": ("main_per_s", "dedup"),
    "dedup.candidate_pairs": ("main_per_s", "dedup"),
    "dedup.verified_pairs": ("main_per_s", "dedup"),
    "dedup.verify_yield": ("main_per_s", "dedup"),
    "dedup.dropped_buckets": ("main_per_s", "dedup"),
    "dedup.shuffle_write_mb": ("main_per_s", "dedup"),
    "similarity.jobs": ("alt_per_s", "dedup"),
    "similarity.python_total_s": ("alt_per_s", "dedup"),
    "spark.jobs": ("main_per_s", "all"),
    "spark.stages": ("main_per_s", "all"),
    "spark.tasks": ("main_per_s", "all"),
    "jvm.gc_s": ("main_per_s", "all"),
    "jvm.jit_s": ("first_op_s", "all"),
    "jvm.heap_peak_mb": ("peak_rss_mb", "all; dedup persists"),
    "spark.persisted_after_op": ("peak_rss_mb", "all; dedup persists"),
    "spark.jobs.alt": ("alt_per_s", "all"),
    "spark.stages.alt": ("alt_per_s", "all"),
    "spark.tasks.alt": ("alt_per_s", "all"),
    "jvm.gc_s.alt": ("alt_per_s", "all"),
    "jvm.jit_s.alt": ("first_op_s", "all"),
    "spark.persisted_after_op.alt": ("peak_rss_mb", "all"),
    "trace.main_op_s": ("main_per_s (minus this is tracing overhead)", "all"),
    "trace.alt_op_s": ("alt_per_s (minus this is tracing overhead)", "all"),
}

# taken from the first op of its kind (the cold one), not the last
FROM_FIRST_OP = {"udfs.python_boot_s", "udfs.python_init_s", "jvm.jit_s", "jvm.jit_s.alt"}
