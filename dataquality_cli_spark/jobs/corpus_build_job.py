"""End-to-end training-corpus build: the full production chain the
north star describes, composed from this repo's operators in ONE job —

    quality filter (langid + perplexity + heuristics + scrub,
       with an optional model-based gate: --classifier-labels)
    -> license blocklist (optional: --drop-licenses)
    -> machine-generated-file gate (optional: --drop-generated)
    -> cross-corpus Bloom prescreen (optional: prior snapshot filter;
       --prior-kept verifies the maybe side exactly)
    -> exact dedup (sha256 keep-first on the SCRUBBED content)
    -> near-dup dedup (MinHash LSH -> verified Jaccard -> connected
       components, keep the cluster representative)
    -> semantic dedup (optional: hash-embed -> [PCA] -> k-means ->
       SemDeDup)
    -> keep-one cross-document substring dedup (optional:
       --cross-doc-min-docs, Lee et al. shape)
    -> benchmark decontamination (optional eval set)
    -> deterministic hash split (train/val)
    -> sequence packing (context-window batching, BPE-ish token counts)
    -> Bloom artifact emit (optional: --emit-bloom, consumed by the
       NEXT build's prescreen)

Every stage is a DataFrame -> DataFrame transform already verified in
isolation (oracle gate / pytest); this module is the composition plus
stage metrics. Physical shape at scale: one ArrowEvalPython pass for
the filter, one sha-hash shuffle, LSH band equi-joins with the
default-on bucket cap, a broadcast join for decontamination, and a
shuffle-free split+pack — no stage introduces a cross join or unbounded
state (see SCALE.md).

One runner, ``build_corpus_resumable``, drives the chain: the stages
after the filter are one table of (stage, metrics key, transform), and
every stage boundary is materialized to parquet with a manifest row
appended AFTER the data lands (the same manifest-after-data ordering as
plans/pipeline.run_with_checkpoint). A rerun resumes from the last
complete stage, so a mid-job kill never recomputes the expensive
filter/dedup stages and never double-writes. ``main()`` is its
spark-submit entrypoint (north rule: idempotent resume for the flagship
chain, not just the filter stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# the heuristic metrics the fused UDF already computes per file — also
# the feature vector of the optional model-based (classifier) gate
CLASSIFIER_FEATURES = ["blank_ratio", "mean_line_len", "alnum_fraction",
                       "dup_line_ratio", "max_token_len", "ppl"]


def _filter_stage(spark: SparkSession, df: DataFrame, bc=None,
                  classifier_labeled: DataFrame | None = None,
                  classifier_threshold: float = 0.5):
    """Quality filter -> (verdicts, kept). doc_id hashes the FULL
    identity (repo, path, commit): two commits of one path are distinct
    documents — a (repo, path)-only key made the dedup join fan out.
    Birthday bound for 64-bit ids is ~n^2/2^65: ~2.7e-6 at 10^7 docs but
    ~3% at 10^9 — above ~10^7-10^8 docs swap in md5(repo||path||commit)
    (128-bit string keys); the chain is key-type agnostic.

    ``classifier_labeled`` enables the MODEL-BASED gate on top of the
    heuristic one (the FineWeb-Edu / DCLM pattern: a small classifier
    trained on a labeled sample re-scores what the heuristics kept):
    the labeled corpus-shaped table (+ int ``label``) runs through the
    SAME pipeline to produce its feature metrics, a distributed
    logistic regression fits on CLASSIFIER_FEATURES, and the heuristic
    survivors are kept only when their sigmoid score reaches
    ``classifier_threshold`` — the scoring is a pure column expression
    over metrics the fused UDF already computed, so the gate adds ZERO
    extra passes over the corpus (callers derive the pre-gate count
    from the persisted verdicts). The gate rides INSIDE the filter
    stage, so verdict features never need re-materializing on
    resume."""
    from dataquality_cli_spark.plans.pipeline import run_pipeline

    # resolve a factory ONCE: the classifier path runs the pipeline a
    # second time (labeled-sample features) and an unresolved callable
    # would pay the corpus-model training pass twice
    bc = bc() if callable(bc) else bc
    verdicts = run_pipeline(spark, df, bc=bc)
    kept_v = verdicts.filter("keep")
    if classifier_labeled is not None:
        from dataquality_cli_spark.functions.models import (
            quality_classifier_score_col,
            train_quality_classifier_distributed)

        feats = run_pipeline(
            spark,
            classifier_labeled.select("repo", "path", "commit", "lang",
                                      "content"),
            bc=bc)
        train_df = feats.join(
            classifier_labeled.select("repo", "path", "commit", "label"),
            ["repo", "path", "commit"])
        model = train_quality_classifier_distributed(
            train_df, CLASSIFIER_FEATURES, label_col="label")
        kept_v = kept_v.filter(
            quality_classifier_score_col(model) >= classifier_threshold)
    kept = kept_v.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        "repo", "path", "lang", "content_sha256",
        # the PRE-span scrubbed-text sha: the cross-corpus Bloom key
        # domain at BOTH ends (screen + emit) — see _bloom_stage
        "scrubbed_sha256",
        F.col("scrubbed_content").alias("text"),
    )
    return verdicts, kept


def _exact_stage(kept: DataFrame) -> DataFrame:
    from dataquality_cli_spark.operators import dedup

    survivors = dedup.dedup_keep_first(kept).select("doc_id")
    return kept.join(survivors, "doc_id")


def _neardup_stage(exact: DataFrame, threshold: float) -> DataFrame:
    """Near-dup dedup with quality-aware representative selection: keep
    the BEST-SCORING member of each near-dup cluster via
    ``dedup.select_representatives`` over ``text.quality_score`` —
    a mirror of a crawled page should lose to the cleaner original, not
    to whichever got the lower hash. Scores are computed only for
    CLUSTERED docs (a small minority of the corpus after exact dedup),
    so the scoring pass is bounded by the near-dup rate, not corpus
    size. Tie-break is lowest doc_id, so a score-flat cluster keeps
    exactly its min-id member."""
    from dataquality_cli_spark.operators import dedup
    from dataquality_cli_spark.operators.text import quality_score

    pairs = dedup.lsh_verified_pairs(exact, threshold=threshold)
    clusters = dedup.neardup_clusters(pairs)
    members = exact.join(clusters.select("doc_id"), "doc_id")
    scores = quality_score(members).select("doc_id", "quality_score")
    reps = dedup.select_representatives(clusters, scores)
    losers = (
        clusters.join(reps.select("cluster_id", "rep_id"), "cluster_id")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id")
    )
    return exact.join(losers, "doc_id", "left_anti")


def _semantic_stage(uniq: DataFrame, threshold: float,
                    pca_dim: int | None = None) -> DataFrame:
    """Optional order-invariant semantic dedup (hash-embed ->
    [optional PCA] -> k-means -> SemDeDup) after the syntactic near-dup
    pass: catches the shuffled/reordered duplicates char-shingle
    MinHash under-scores. Off by default (threshold None) —
    byte-identical chain when off. ``pca_dim`` projects the hash
    embeddings before clustering (see semantic_dedup_text)."""
    from dataquality_cli_spark.operators.similarity import (
        semantic_dedup_text)

    return semantic_dedup_text(uniq, threshold=threshold, k=16,
                               pca_dim=pca_dim)


def _license_stage(kept: DataFrame, drop_licenses: list) -> DataFrame:
    """Optional license gate (the code-corpus admission rule of The
    Stack / StarCoder, as a BLOCKLIST: drop files whose detected
    license FAMILY is in ``drop_licenses``, keep everything else
    including unmarked files). Matching is family-prefix: entry 'gpl'
    drops guess 'gpl' AND SPDX-derived variants like 'gpl-3.0-only'
    (an exact-string match would admit precisely the most explicitly
    licensed files, since the SPDX tag wins precedence in
    license_guess_col and carries the version suffix); 'lgpl-2.1' /
    'agpl-3.0' do NOT match family 'gpl' (prefix requires the '-'
    boundary). Entries are stripped+lowercased; empty entries raise —
    a compliance gate must not silently no-op on malformed input. A
    pure codegen FILTER on the guess expression — no join, no shuffle,
    no UDF."""
    from dataquality_cli_spark.operators.text import license_guess_col

    fams = [s.strip().lower() for s in drop_licenses]
    if not fams or any(not f for f in fams):
        raise ValueError(
            f"drop_licenses contains an empty entry: {drop_licenses!r}")
    guess = license_guess_col(F.col("text"))
    blocked = F.lit(False)
    for fam in fams:
        blocked = blocked | (guess == fam) | guess.startswith(fam + "-")
    return kept.filter(~blocked)


def _generated_stage(kept: DataFrame) -> DataFrame:
    """Optional machine-generated-file gate (The Stack excludes
    generated files before training; public convention markers —
    DO NOT EDIT / @generated / protoc banners — via
    text.generated_guess_col). Pure codegen FILTER on the marker
    expression — no join, no shuffle, no UDF."""
    from dataquality_cli_spark.operators.text import generated_guess_col

    return kept.filter(generated_guess_col(F.col("text")) == "none")


def _scrub_sha_col(df: DataFrame) -> F.Column:
    """The cross-corpus Bloom key: the pre-span scrubbed-text sha
    column when the frame carries it, else sha2(text) (pre-upgrade
    kept dirs — identical unless the span stage rewrote the doc)."""
    if "scrubbed_sha256" in df.columns:
        return F.col("scrubbed_sha256")
    return F.sha2(F.col("text"), 256)


def _bloom_stage(spark: SparkSession, kept: DataFrame,
                 bloom_artifact: str,
                 prior_kept: str | None = None) -> DataFrame:
    """Cross-corpus Bloom prescreen BEFORE the exact-dedup stage: docs
    whose scrubbed-text sha256 screens definitely-new against a prior
    corpus snapshot's filter (``save_bloom`` artifact) pass straight
    through — at a typical 1% fpp and a mostly-fresh crawl that is
    ~99% of the batch paying ZERO join cost.

    With ``prior_kept`` (a prior build's <out>/kept parquet) the maybe
    side is VERIFIED: the prior scan is pruned to one hashed column,
    semi-joined against the broadcast maybe-key set, and only
    true cross-corpus duplicates drop — Bloom false positives come
    back. Without it, the maybe side drops unverified (over-drop
    bounded by the artifact's fpp — the cheap mode for crawls where a
    ~1% extra drop is acceptable). Both joins touch only the maybe
    side, never the surviving corpus.

    KEY-DOMAIN INVARIANT (ADVICE r5): every side of the cross-corpus
    handshake — this screen, the prior_kept verification, and
    emit_corpus_bloom — keys on the PRE-SPAN scrubbed-text sha
    (``scrubbed_sha256``, computed in the filter stage before the span
    stage can whitespace-rewrite text). Keying any end on final kept
    TEXT would silently re-admit recrawled duplicates of span-rewritten
    docs. Pre-upgrade kept dirs without the column fall back to
    sha2(text) — the identical value for every non-span-rewritten doc."""
    from dataquality_cli_spark.operators.bloom import (
        bloom_screen, load_bloom)

    model = load_bloom(spark, bloom_artifact)
    keyed = kept.withColumn("_scrub_sha", _scrub_sha_col(kept))
    maybe, fresh = bloom_screen(keyed, model, "_scrub_sha")
    if prior_kept is None:
        return fresh.drop("_scrub_sha")
    prior_df = spark.read.parquet(prior_kept)
    prior = prior_df.select(_scrub_sha_col(prior_df).alias("_scrub_sha"))
    maybe_keys = maybe.select("_scrub_sha").distinct()
    dup_keys = (
        prior.join(F.broadcast(maybe_keys), "_scrub_sha", "left_semi")
        .distinct()
    )
    false_pos = maybe.join(F.broadcast(dup_keys), "_scrub_sha",
                           "left_anti")
    return fresh.unionByName(false_pos).drop("_scrub_sha")


def emit_corpus_bloom(spark: SparkSession, kept: DataFrame,
                      path: str, fpp: float = 0.01,
                      n_shards: int | None = None) -> None:
    """Write the Bloom artifact of a built corpus — the filter the
    NEXT build's ``bloom_artifact`` prescreen consumes; build N emits,
    build N+1 screens. Keys are the PRE-SPAN scrubbed-text shas
    (``scrubbed_sha256``), the same domain ``_bloom_stage`` hashes on
    the screening side — keying on final kept TEXT would diverge for
    span-rewritten docs and silently re-admit their recrawled
    duplicates (ADVICE r5; see _bloom_stage's invariant note).
    ``n_shards`` switches to the range-sharded composition for corpora
    past the single-bitmap ceiling (~10^9-10^10 keys); the prescreen
    reads either layout transparently (load_bloom/might_contain_col
    accept both)."""
    from dataquality_cli_spark.operators.bloom import (
        build_bloom, build_bloom_sharded, save_bloom)

    keys = kept.select(_scrub_sha_col(kept).alias("_h"))
    if n_shards is None:
        model = build_bloom(keys, "_h", fpp=fpp)
    else:
        model = build_bloom_sharded(keys, "_h", n_shards=n_shards,
                                    fpp=fpp)
    save_bloom(spark, model, path)


def _span_stage(uniq: DataFrame, k_tokens: int = 13,
                min_docs: int = 5) -> DataFrame:
    """Optional keep-one cross-document substring dedup (Lee et al.
    shape): a k-token passage shared by >= ``min_docs`` surviving docs
    keeps exactly its canonical occurrence; every other copy is deleted
    in place. Runs AFTER whole-doc dedup (this stage is the only one
    that sees embedded boilerplate those passes can't) and BEFORE
    decontamination/packing so token budgets count the cleaned text.
    Row count is unchanged — the funnel metric for this stage is
    span_tokens_removed, not survivors. Docs with zero removed spans
    keep their text byte-identical; modified docs get token-joined
    (whitespace-normalized) text — the same contract as
    dedup_cross_doc_spans."""
    from dataquality_cli_spark.operators.dedup import (
        dedup_cross_doc_spans)

    cleaned = dedup_cross_doc_spans(uniq, text_col="text",
                                    k_tokens=k_tokens,
                                    min_docs=min_docs)
    joined = uniq.join(
        cleaned.select(
            "doc_id", "cleaned_text",
            F.col("n_tokens_removed").alias("span_tokens_removed")),
        "doc_id")
    return joined.withColumn(
        "text",
        F.when(F.col("span_tokens_removed") > 0,
               F.col("cleaned_text")).otherwise(F.col("text")),
    ).drop("cleaned_text")


def _decontaminate_stage(uniq: DataFrame, benchmark: DataFrame,
                         min_hits: int) -> DataFrame:
    from dataquality_cli_spark.operators.text import benchmark_contamination

    contaminated = benchmark_contamination(
        uniq, benchmark, min_hits=min_hits).select("doc_id")
    return uniq.join(contaminated, "doc_id", "left_anti")


def _with_token_counts(df: DataFrame, token_kind: str) -> DataFrame:
    from dataquality_cli_spark.operators.text import token_count_col

    return df.withColumn(
        "n_tokens", token_count_col(F.col("text"), token_kind).cast("long"))


# ---------------------------------------------------------------------------
# the runner: every stage boundary lands in parquet + a manifest row (data
# first, manifest after); a rerun resumes after the last stage whose
# manifest row exists. Local parquet stands in for Iceberg — the layout
# (stage tables + a completion manifest) maps 1:1 onto Iceberg tables +
# snapshot metadata.
# ---------------------------------------------------------------------------

_MANIFEST = "_stage_manifest"


def _read_manifest(spark: SparkSession, out_dir: str) -> dict[str, dict]:
    """Read the stage manifest through SPARK (not the driver's local
    fs): resume must work for hdfs://... / s3a://... out_dirs on the
    spark-submit deployment, where os.path.isdir is always False and a
    local-fs check would silently disable resume. The part files are
    listed first (pipeline.parquet_files), so a fresh out_dir logs no
    failed read; the read itself stays strict: a corrupt/drifted
    manifest raises loudly, never misread as 'not written yet'."""
    from dataquality_cli_spark.plans.pipeline import parquet_files

    files = parquet_files(spark, f"{out_dir}/{_MANIFEST}")
    if files is None:  # manifest not written yet
        return {}
    return {r["stage"]: {"n_rows": r["n_rows"], "path": r["path"]}
            for r in spark.read.parquet(*files).collect()}


def _append_manifest(spark: SparkSession, out_dir: str, stage: str,
                     n_rows: int, data_path: str, run_id: str) -> None:
    spark.createDataFrame(
        [(stage, n_rows, data_path, run_id)],
        "stage string, n_rows long, path string, run_id string",
    ).coalesce(1).write.mode("append").parquet(f"{out_dir}/{_MANIFEST}")


def build_corpus_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    benchmark: DataFrame | None = None,
    neardup_threshold: float = 0.7,
    val_fraction: float = 0.05,
    pack_budget: int = 2048,
    contamination_min_hits: int = 3,
    token_kind: str = "bpe",
    bc=None,
    semantic_threshold: float | None = None,
    semantic_pca_dim: int | None = None,
    bloom_artifact: str | None = None,
    prior_kept: str | None = None,
    cross_doc_min_docs: int | None = None,
    drop_licenses: list | None = None,
    drop_generated: bool = False,
    classifier_labeled: DataFrame | None = None,
    classifier_threshold: float = 0.5,
    emit_bloom: bool = False,
    run_id: str = "run0",
    fail_after_stages: int | None = None,
) -> dict:
    """Run the full chain over a (repo, path, commit, lang, content)
    corpus with a parquet + manifest checkpoint at every stage boundary;
    a rerun after a mid-job kill resumes from the last COMPLETE stage (a
    partially-written stage has no manifest row, so it is overwritten —
    never trusted, never appended to). Outputs land under ``out_dir``:
    train_packed/, val/ and kept/ (+ the intermediate stage tables and
    _stage_manifest). kept/ carries (doc_id, repo, path, lang,
    content_sha256, scrubbed_sha256, text) for every surviving document
    (text = the SCRUBBED content, scrubbed_sha256 = its PRE-span sha —
    the Bloom key domain; the span stage adds span_tokens_removed).
    ``token_kind`` picks the packing token counter ('bpe' default — the
    count a real tokenizer's budget tracks; 'whitespace' for the cruder
    estimate).

    Returns the per-stage survivor metrics (plus span_tokens_removed
    when the span stage is on, and train_packs). The input count comes
    from the persisted verdicts — NOT a second action over the raw
    source. Reruns reconstruct every metric from the manifest and the
    stage tables, so the metric line is stable across resume.

    ``fail_after_stages`` is a test hook: raise after N stages have been
    materialized THIS RUN (simulated kill).

    Resume is guarded against CONFIG DRIFT: the build parameters are
    written to ``_params`` (a one-row parquet, via Spark so any
    Hadoop-compatible out_dir works) on the first run and any later run
    with different parameters fails fast — silently resuming a
    half-built chain under new thresholds would mix two corpora."""
    import json

    from dataquality_cli_spark.operators.sampling import (
        hash_split, pack_sequences)
    from dataquality_cli_spark.plans.pipeline import parquet_files

    params = {
        "neardup_threshold": neardup_threshold,
        # the only representative rule; kept so that an out_dir built
        # under the retired 'min_id' rule fails fast instead of resuming
        "neardup_keep": "quality",
        "custom_models": bc is not None,
        "semantic_threshold": semantic_threshold,
        "semantic_pca_dim": semantic_pca_dim,
        "bloom_artifact": bloom_artifact,
        "prior_kept": prior_kept,
        "cross_doc_min_docs": cross_doc_min_docs,
        "drop_licenses": sorted(s.strip().lower() for s in drop_licenses)
        if drop_licenses else None,
        # None (not False) when off — pre-upgrade _params dirs resume
        "drop_generated": True if drop_generated else None,
        # None (not False) when off: a missing key in a pre-upgrade
        # _params compares equal to None, keeping old dirs resumable
        "classifier": True if classifier_labeled is not None else None,
        "classifier_threshold": (classifier_threshold
                                 if classifier_labeled is not None
                                 else None),
        "val_fraction": val_fraction,
        "pack_budget": pack_budget,
        "contamination_min_hits": contamination_min_hits,
        "token_kind": token_kind,
        "has_benchmark": benchmark is not None,
    }
    params_path = f"{out_dir}/_params"
    files = parquet_files(spark, params_path)
    if files is None:
        spark.createDataFrame([(json.dumps(params, sort_keys=True),)],
                              "params string") \
            .coalesce(1).write.parquet(params_path)
    else:
        # compare PARSED dicts, treating a key missing from the stored
        # params as None: stage options added in later releases default
        # to None/off, so an out_dir written before an option existed
        # stays resumable with the same effective config — a raw JSON
        # string comparison bricked every in-flight pre-upgrade build
        # (and reported an EMPTY diff while doing it)
        prior_params = json.loads(
            spark.read.parquet(*files).collect()[0]["params"])
        diff = {k: (prior_params.get(k), v) for k, v in params.items()
                if prior_params.get(k) != v}
        if diff:
            raise ValueError(
                f"build_corpus_resumable: {out_dir} was built with "
                f"different parameters {diff} (prior, new) — resuming "
                f"would mix configs; use a fresh out_dir or delete it"
            )

    done = _read_manifest(spark, out_dir)
    computed_this_run = 0

    def finish(stage: str, out_df: DataFrame) -> DataFrame:
        """Materialize one stage: write data, re-read, THEN manifest."""
        nonlocal computed_this_run
        if fail_after_stages is not None and computed_this_run >= fail_after_stages:
            raise RuntimeError("simulated mid-job failure")
        path = f"{out_dir}/{stage}"
        out_df.write.mode("overwrite").parquet(path)
        reread = spark.read.parquet(path)
        _append_manifest(spark, out_dir, stage, reread.count(), path, run_id)
        computed_this_run += 1
        done[stage] = {"n_rows": None, "path": path}
        return reread

    def load(stage: str) -> DataFrame:
        return spark.read.parquet(done[stage]["path"])

    # 1. filter. The input count rides the same manifest (an "input"
    # pseudo-stage row) so resumed runs report it without re-scanning.
    # The input row is appended BEFORE the filtered stage completes: a
    # kill between the two leaves a duplicate-able input row (idempotent
    # — the recount is deterministic and _read_manifest collapses it),
    # never a completed stage with a missing input metric.
    if "filtered" not in done:
        # bc may be a zero-arg factory (e.g. corpus-model training):
        # _filter_stage invokes it, so a resumed run that skips the
        # filter never pays the training pass
        verdicts, kept = _filter_stage(
            spark, df, bc=bc, classifier_labeled=classifier_labeled,
            classifier_threshold=classifier_threshold)
        verdicts = verdicts.persist()
        _append_manifest(spark, out_dir, "input", verdicts.count(), "", run_id)
        if classifier_labeled is not None:
            # pre-classifier funnel row (the heuristic gate's survivors)
            # from the persisted verdicts — same pseudo-row pattern as
            # 'input'; the filtered stage row records the POST-gate set
            _append_manifest(spark, out_dir, "kept_heuristic",
                             verdicts.filter("keep").count(), "", run_id)
        cur = finish("filtered", kept)
        verdicts.unpersist()
    else:
        cur = load("filtered")

    # 2. the chain after the filter, in order: (stage, metrics key,
    # transform of the previous stage's table, or None when off)
    chain = [
        ("licensed", "after_license_gate",
         (lambda d: _license_stage(d, drop_licenses))
         if drop_licenses else None),
        ("generated", "after_generated_gate",
         _generated_stage if drop_generated else None),
        ("bloomed", "after_bloom_screen",
         (lambda d: _bloom_stage(spark, d, bloom_artifact, prior_kept))
         if bloom_artifact is not None else None),
        ("exact", "after_exact_dedup", _exact_stage),
        ("unique", "after_neardup_dedup",
         lambda d: _neardup_stage(d, neardup_threshold)),
        ("semantic", "after_semantic_dedup",
         (lambda d: _semantic_stage(d, semantic_threshold,
                                    pca_dim=semantic_pca_dim))
         if semantic_threshold is not None else None),
        ("spans", "after_span_dedup",
         (lambda d: _span_stage(d, min_docs=cross_doc_min_docs))
         if cross_doc_min_docs is not None else None),
        ("kept", "after_decontamination",
         (lambda d: _decontaminate_stage(d, benchmark,
                                         contamination_min_hits))
         if benchmark is not None else None),
    ]
    enabled = [(stage, fn) for stage, _key, fn in chain if fn is not None]
    for i, (stage, fn) in enumerate(enabled):
        if stage in done:
            cur = load(stage)
            continue
        # the surviving corpus is always a REAL <out>/kept directory
        # (main()'s output contract): the LAST enabled stage writes it,
        # and its own manifest row aliases it — never a second copy. A
        # kill between the kept write and the alias row resumes from
        # kept without recomputing the stage.
        target = "kept" if i == len(enabled) - 1 else stage
        cur = load(target) if target in done else finish(target, fn(cur))
        if target != stage:
            _append_manifest(spark, out_dir, stage, cur.count(),
                             done[target]["path"], run_id)
            done[stage] = done[target]

    # 3. split + pack (both deterministic given the 'kept' parquet:
    # the split is an md5 threshold; packing sees the stable parquet
    # partition layout, so a resumed pack equals the original pack)
    if "val" not in done:
        finish("val", hash_split(cur, "doc_id", val_fraction, salt="val"))
    if "train_packed" not in done:
        val_ids = spark.read.parquet(done["val"]["path"]).select("doc_id")
        train = cur.join(val_ids, "doc_id", "left_anti")
        packed = finish("train_packed",
                        pack_sequences(_with_token_counts(train, token_kind),
                                       budget=pack_budget))
        _append_manifest(spark, out_dir, "train_packs",
                         packed.select("pack_id").distinct().count(),
                         "", run_id)

    # 4. optional Bloom artifact of the surviving corpus — the filter
    # the NEXT build's bloom_artifact prescreen consumes (artifact
    # first, manifest row after; resume skips a completed emit). NOT in
    # the drift-guard params: it adds an output, never changes the chain
    if emit_bloom and "bloom" not in done:
        bloom_path = f"{out_dir}/bloom"
        emit_corpus_bloom(spark, cur, bloom_path)
        _append_manifest(spark, out_dir, "bloom",
                         cur.count(), bloom_path, run_id)

    final = _read_manifest(spark, out_dir)
    if "train_packs" not in final:
        # a kill landed between the train_packed manifest row and the
        # train_packs metric row — recount from the completed parquet
        n_packs = (spark.read.parquet(final["train_packed"]["path"])
                   .select("pack_id").distinct().count())
        _append_manifest(spark, out_dir, "train_packs", n_packs, "", run_id)
        final["train_packs"] = {"n_rows": n_packs, "path": ""}
    metrics = {"input": final["input"]["n_rows"]}
    for stage, key in [("filtered", "kept_after_filter"),
                       *((stage, key) for stage, key, _fn in chain),
                       ("val", "val_docs"), ("train_packed", "train_docs")]:
        if stage in final:  # optional stages leave no row when off
            metrics[key] = final[stage]["n_rows"]
    if "kept_heuristic" in final:
        # classifier gate on: the 'filtered' row is POST-gate; the
        # heuristic survivors rode the kept_heuristic pseudo-row
        metrics["after_classifier_gate"] = metrics["kept_after_filter"]
        metrics["kept_after_filter"] = final["kept_heuristic"]["n_rows"]
    if "spans" in final:
        # the span stage keeps every row: its funnel metric is the
        # tokens it removed, summed from its own (completed) table
        metrics["span_tokens_removed"] = int(
            spark.read.parquet(final["spans"]["path"])
            .agg(F.sum("span_tokens_removed")).collect()[0][0] or 0)
    metrics["train_packs"] = final["train_packs"]["n_rows"]
    return metrics


def main() -> None:
    """spark-submit entrypoint (same deployment shape as
    quality_filter_job), RESUMABLE: rerunning the same command after a
    mid-job failure continues from the last complete stage.

        spark-submit --master <cluster> \\
            --py-files dist/dataquality_cli_spark.zip \\
            dataquality_cli_spark/jobs/corpus_build_job.py \\
            (--input <parquet|iceberg ref> | --synth N) --output <dir> \\
            [--benchmark <parquet|iceberg ref>] [--val-fraction 0.05] \\
            [--pack-budget 2048] [--token-kind bpe|whitespace]

    Writes <out>/train_packed, <out>/val, <out>/kept as parquet (plus
    intermediate stage tables + _stage_manifest) and prints ONE JSON
    line with the per-stage survivor metrics."""
    import argparse
    import json

    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--benchmark", default=None)
    ap.add_argument("--val-fraction", type=float, default=0.05)
    ap.add_argument("--pack-budget", type=int, default=2048)
    ap.add_argument("--neardup-threshold", type=float, default=0.7)
    ap.add_argument("--semantic-dedup-threshold", type=float, default=None,
                    help="enable the order-invariant semantic dedup "
                         "stage (hash-embed -> k-means -> SemDeDup) at "
                         "this cosine threshold")
    ap.add_argument("--classifier-labels", default=None,
                    help="labeled corpus-shaped parquet (repo, path, "
                         "commit, lang, content, label:int): train the "
                         "model-based quality gate on it and keep only "
                         "heuristic survivors scoring >= "
                         "--classifier-threshold")
    ap.add_argument("--classifier-threshold", type=float, default=0.5)
    ap.add_argument("--drop-generated", action="store_true",
                    help="drop machine-generated files (DO NOT EDIT / "
                         "@generated / protoc-banner markers)")
    ap.add_argument("--drop-licenses", default=None,
                    help="comma-separated license families to DROP "
                         "(blocklist, e.g. 'gpl,mpl-2.0'); detection "
                         "= SPDX tag or canonical header phrase")
    ap.add_argument("--cross-doc-min-docs", type=int, default=None,
                    help="enable keep-one cross-document substring "
                         "dedup: passages shared by >= this many docs "
                         "keep one canonical copy (Lee et al. shape)")
    ap.add_argument("--pca-dim", type=int, default=None,
                    help="project the semantic-dedup hash embeddings "
                         "to this dimension with distributed PCA "
                         "before clustering")
    ap.add_argument("--bloom-artifact", default=None,
                    help="prior-corpus Bloom filter (save_bloom dir): "
                         "prescreen incoming docs before exact dedup; "
                         "definitely-new docs skip all join cost")
    ap.add_argument("--prior-kept", default=None,
                    help="prior build's kept parquet: verify the "
                         "Bloom maybe side exactly (false positives "
                         "come back) instead of dropping it unverified")
    ap.add_argument("--emit-bloom", action="store_true",
                    help="write <out>/bloom — the Bloom artifact of "
                         "the surviving corpus, for the next build's "
                         "--bloom-artifact")
    ap.add_argument("--token-kind", default="bpe",
                    choices=["bpe", "whitespace"])
    ap.add_argument("--synth", type=int, default=None)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--train-models", action="store_true",
                    help="train the langid + perplexity models ON the "
                         "input corpus (distributed) instead of the "
                         "fixture models")
    ap.add_argument("--labeled-sample", default=None,
                    help="labeled (lang, content) table for langid "
                         "training; defaults to the corpus's own lang "
                         "column")
    args = ap.parse_args()
    if args.input is None and not args.synth:
        ap.error("one of --input or --synth is required")

    spark = (
        SparkSession.builder.appName("dq-corpus-build")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .getOrCreate()
    )
    from dataquality_cli_spark.sources.iceberg import CORPUS_SCHEMA, read_corpus

    if args.synth:
        from dataquality_cli_spark.sources.synth import corpus_to_rows, gen_corpus
        df = spark.createDataFrame(
            corpus_to_rows(gen_corpus(args.synth, seed=args.seed)), CORPUS_SCHEMA)
    else:
        df = read_corpus(spark, args.input)
    bench = read_corpus(spark, args.benchmark) if args.benchmark else None

    bc = None
    if args.train_models:
        from dataquality_cli_spark.functions.models import (
            corpus_trained_models_bc)
        labeled = (read_corpus(spark, args.labeled_sample)
                   if args.labeled_sample else None)
        # factory, not a broadcast: training runs only if the filter
        # stage is not already checkpointed (resume skips it)
        def bc(labeled=labeled):
            return corpus_trained_models_bc(spark, df, labeled=labeled)

    metrics = build_corpus_resumable(
        spark, df, args.output, benchmark=bench,
        neardup_threshold=args.neardup_threshold,
        val_fraction=args.val_fraction, pack_budget=args.pack_budget,
        token_kind=args.token_kind, bc=bc,
        semantic_threshold=args.semantic_dedup_threshold,
        semantic_pca_dim=args.pca_dim,
        bloom_artifact=args.bloom_artifact,
        prior_kept=args.prior_kept,
        cross_doc_min_docs=args.cross_doc_min_docs,
        drop_licenses=(args.drop_licenses.split(",")
                       if args.drop_licenses else None),
        drop_generated=args.drop_generated,
        classifier_labeled=(read_corpus(spark, args.classifier_labels)
                            if args.classifier_labels else None),
        classifier_threshold=args.classifier_threshold,
        emit_bloom=args.emit_bloom,
    )
    print(json.dumps({"metric": "corpus_build",
                  "trained_models": bool(args.train_models),
                  **metrics}))


if __name__ == "__main__":
    main()
