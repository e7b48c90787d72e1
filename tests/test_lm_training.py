"""Distributed CharLM training: bit-identical count tables vs the
driver-side CharLM.train on the same texts, at any partitioning."""

from __future__ import annotations

import numpy as np

from dataquality_cli_spark.functions.models import (
    CharLM, train_char_lm_distributed)
from dataquality_cli_spark.sources.synth import corpus_to_rows, gen_corpus

SCHEMA = "repo string, path string, commit string, lang string, content string"


def test_distributed_char_lm_matches_driver_training(spark):
    rows = corpus_to_rows(gen_corpus(120, seed=55))
    texts = [r[4] for r in rows]
    expected = CharLM.train(texts)

    df = spark.createDataFrame(rows, SCHEMA)
    for parts in (1, 13):
        got = train_char_lm_distributed(df.repartition(parts))
        assert np.array_equal(got.ltri, expected.ltri), parts
        assert np.array_equal(got.lbi, expected.lbi), parts
        assert got.dim == expected.dim
    # the trained model scores like the reference model: per-doc nll
    # identical (same tables, same scorer)
    sample = texts[:20]
    assert np.array_equal(got.nll_batch(sample), expected.nll_batch(sample))
    # sanity: in-domain text is less surprising than byte soup
    import random
    rng = random.Random(3)
    soup = "".join(chr(rng.randrange(33, 127)) for _ in range(400))
    assert got.nll(texts[0]) < got.nll(soup)


def test_distributed_langid_matches_driver_training(spark):
    from dataquality_cli_spark.functions.models import (
        LangIdModel, train_langid_distributed)

    rows = corpus_to_rows(gen_corpus(120, seed=56))
    by_class: dict[str, list[str]] = {}
    for r in rows:
        by_class.setdefault(r[3], []).append(r[4])
    # sorted keys: the distributed trainer sorts classes for determinism
    expected = LangIdModel.train(
        {k: by_class[k] for k in sorted(by_class)})

    df = spark.createDataFrame(rows, SCHEMA)
    for parts in (1, 9):
        got = train_langid_distributed(df.repartition(parts))
        assert got.classes == expected.classes, parts
        assert np.array_equal(got.weights, expected.weights), parts
    sample = [r[4] for r in rows[:30]]
    assert got.predict(sample) == expected.predict(sample)
    # the corpus-trained model carries real signal (go/js/py classes on
    # the synthetic code corpus; 1/3 chance level)
    preds = got.predict([r[4] for r in rows])
    acc = sum(p == r[3] for p, r in zip(preds, rows)) / len(rows)
    assert acc >= 0.8


def test_pipeline_runs_with_corpus_trained_models(spark):
    """The trainers' output plugs into the production pipeline: rerun
    the verdict pipeline with corpus-trained langid + LM and check the
    perplexity/langid-dependent verdicts still fire coherently."""
    from dataquality_cli_spark.functions.models import (
        train_char_lm_distributed, train_langid_distributed)
    from dataquality_cli_spark.functions.udfs import broadcast_models
    from dataquality_cli_spark.plans.pipeline import run_pipeline

    rows = corpus_to_rows(gen_corpus(150, seed=57))
    df = spark.createDataFrame(rows, SCHEMA)
    langid = train_langid_distributed(df)
    lm = train_char_lm_distributed(df)
    bc = broadcast_models(spark, langid=langid, lm=lm)
    verdicts = run_pipeline(spark, df, bc=bc).collect()
    assert len(verdicts) == len(rows)
    kept = [r for r in verdicts if r.keep]
    # an in-domain-trained LM considers most of its own corpus natural:
    # the pipeline must not degenerate to drop-everything or keep-everything
    assert 0 < len(kept) < len(verdicts)
    reasons = {r.drop_reason for r in verdicts if not r.keep}
    assert reasons  # drop reasons populated


def test_langid_trainer_keeps_empty_and_skips_null_classes(spark):
    from dataquality_cli_spark.functions.models import (
        LangIdModel, train_langid_distributed)

    rows = [("go", "package main func init loop over range"),
            ("go", "func handler writes bytes to the conn"),
            ("tiny", "a"),            # below every n-gram order
            ("tiny", "b"),
            (None, "label is null — excluded entirely")]
    df = spark.createDataFrame(rows, "lang string, content string")
    m = train_langid_distributed(df)
    assert m.classes == ("go", "tiny")  # 'tiny' kept, NULL dropped
    expected = LangIdModel.train(
        {"go": [r[1] for r in rows if r[0] == "go"],
         "tiny": [r[1] for r in rows if r[0] == "tiny"]})
    assert np.array_equal(m.weights, expected.weights)


def test_corpus_trained_models_reach_the_pipeline(spark):
    """--train-models path: verdicts from corpus-trained models differ
    from the fixture-model run ONLY via the documented score columns
    (langid_pred, ppl) and their downstream gates (keep, drop_reason)
    — heuristics and scrub are model-independent and must be
    byte-identical per document."""
    from dataquality_cli_spark.functions.models import (
        corpus_trained_models_bc)
    from dataquality_cli_spark.plans.pipeline import run_pipeline

    rows = corpus_to_rows(gen_corpus(150, seed=63))
    df = spark.createDataFrame(rows, SCHEMA)
    base = {(r.repo, r.path, r.commit): r
            for r in run_pipeline(spark, df).collect()}
    bc = corpus_trained_models_bc(spark, df)
    trained = {(r.repo, r.path, r.commit): r
               for r in run_pipeline(spark, df, bc=bc).collect()}

    assert base.keys() == trained.keys()
    # scrubbed_content/scrubbed_sha256 are NULLED for dropped docs, so
    # they follow keep — compare them only where both runs kept the doc
    model_cols = {"langid_pred", "ppl", "keep", "drop_reason",
                  "scrubbed_content", "scrubbed_sha256"}
    fixed_cols = [c for c in base[next(iter(base))].asDict()
                  if c not in model_cols]
    for k in base:
        b, t = base[k].asDict(), trained[k].asDict()
        for c in fixed_cols:
            assert b[c] == t[c], (k, c)
        if b["keep"] and t["keep"]:  # scrub itself is model-independent
            assert b["scrubbed_content"] == t["scrubbed_content"], k
            assert b["scrubbed_sha256"] == t["scrubbed_sha256"], k
    # non-vacuous: the trained models actually score differently
    assert any(base[k].ppl != trained[k].ppl for k in base)
    # and the trained-model gate still keeps a sane majority of the
    # clean synthetic corpus (models trained ON it find it in-domain)
    n_keep = sum(1 for r in trained.values() if r.keep)
    assert n_keep > len(trained) * 0.5


def test_quality_classifier_single_partition_fast_path_parity(spark):
    """A 1-partition input runs every iteration in one task; the same rows
    in 4 partitions take the per-iteration distributed loop. Both fits
    agree to float-summation noise and label every row the same."""
    import random

    from pyspark.sql import functions as F

    from dataquality_cli_spark.functions.models import (
        quality_classifier_score_col, train_quality_classifier_distributed)

    rng = random.Random(7)
    rows = []
    for i in range(300):
        y = i % 2
        rows.append((i, rng.gauss(2.0 + y, 0.8), rng.gauss(20.0 - 8.0 * y, 5.0),
                     rng.gauss(0.0, 1.0), y))
    one = spark.createDataFrame(
        rows, "doc_id long, f1 double, f2 double, f3 double, label int").repartition(1)
    four = one.repartition(4)
    assert (one.rdd.getNumPartitions(), four.rdd.getNumPartitions()) == (1, 4)
    feats = ["f1", "f2", "f3"]
    fast = train_quality_classifier_distributed(one, feats, n_iter=30)
    loop = train_quality_classifier_distributed(four, feats, n_iter=30)
    assert np.allclose(fast["w"], loop["w"], rtol=0, atol=1e-9)
    assert np.allclose(fast["b"], loop["b"], rtol=0, atol=1e-9)
    assert fast["n"] == loop["n"] == 300

    def labels(model):
        return {r.doc_id: r.pred for r in one.select(
            "doc_id", (quality_classifier_score_col(model) > 0.5).alias("pred")).collect()}

    assert labels(fast) == labels(loop)
    assert 0 < sum(labels(fast).values()) < 300


def test_quality_classifier_trainer_parity_and_recovery(spark):
    """Distributed logistic regression: numpy-parity with a driver-side
    reference loop (same standardization, same updates), partition
    invariance to float noise, planted-separable recovery, and
    JVM-only scoring that matches the numpy sigmoid."""
    import random

    from pyspark.sql import functions as F

    from dataquality_cli_spark.functions.models import (
        quality_classifier_score_col, train_quality_classifier_distributed)

    rng = random.Random(31)
    rows = []
    for i in range(400):
        y = i % 2
        # class 1: higher f1, lower f2; f3 is noise
        f1 = rng.gauss(3.0 if y else 1.0, 0.5)
        f2 = rng.gauss(10.0 if y else 30.0, 4.0)
        f3 = rng.gauss(0.0, 1.0)
        rows.append((i, float(f1), float(f2), float(f3), y))
    # a NULL-label and a NULL-feature row must be excluded, not crash
    rows_n = rows + [(1000, 1.0, 1.0, 1.0, None), (1001, None, 1.0, 1.0, 1)]
    df = spark.createDataFrame(
        rows_n, "doc_id long, f1 double, f2 double, f3 double, label int")
    feats = ["f1", "f2", "f3"]
    model = train_quality_classifier_distributed(df, feats, n_iter=40)
    assert model["n"] == 400

    # driver-side reference loop: identical math on the same rows
    x = np.array([[r[1], r[2], r[3]] for r in rows])
    y = np.array([float(r[4]) for r in rows])
    mu, sigma = x.mean(axis=0), x.std(axis=0)
    sigma[sigma == 0] = 1.0
    xs = (x - mu) / sigma
    w = np.zeros(4)
    for _ in range(40):
        z = xs @ w[:3] + w[3]
        r = 1.0 / (1.0 + np.exp(-z)) - y
        grad = np.concatenate([xs.T @ r, [r.sum()]])
        reg = 1e-4 * np.concatenate([w[:3], [0.0]])
        w = w - 0.5 * (grad / 400 + reg)
    assert np.allclose(model["w"], w[:3], atol=1e-7)
    assert np.allclose(model["b"], w[3], atol=1e-7)
    assert np.allclose(model["mu"], mu, atol=1e-9)

    # partition invariance (float-sum noise only)
    m2 = train_quality_classifier_distributed(
        df.repartition(13), feats, n_iter=40)
    assert np.allclose(model["w"], m2["w"], atol=1e-9)

    # separable planted signal is recovered: accuracy >= 0.95, and the
    # noise feature carries far less weight than the signal features
    scored = df.dropna().withColumn(
        "p", quality_classifier_score_col(model))
    acc = scored.filter(
        ((F.col("p") > 0.5) & (F.col("label") == 1))
        | ((F.col("p") <= 0.5) & (F.col("label") == 0))).count() / 400
    assert acc >= 0.95, acc
    assert abs(model["w"][2]) < 0.3 * min(abs(model["w"][0]),
                                          abs(model["w"][1]))

    # the JVM scoring column == numpy sigmoid on the same model
    got = {r.doc_id: r.p for r in scored.select("doc_id", "p").collect()}
    z = xs @ model["w"] + model["b"]
    want = 1.0 / (1.0 + np.exp(-z))
    for i in range(400):
        assert abs(got[i] - want[i]) < 1e-9
