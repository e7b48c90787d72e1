"""Operator tests over the driver's sf0.001 tables: dedup (exact /
minhash / LSH / simhash), similarity (brute-force vs LSH recall),
profiling helpers, multimodal plumbing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataquality_cli_spark.operators import dedup, multimodal, profile, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def aug(docs):
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    return docs.unionByName(dups).cache()


def test_exact_dedup_finds_planted_duplicates(docs, aug):
    n_planted = docs.filter(F.col("doc_id") % 5 == 0).count()
    groups = dedup.exact_dup_groups(aug)
    assert groups.count() == n_planted
    # keeper is always the original (lower id)
    assert groups.filter(F.col("keeper_id") >= 10_000).count() == 0
    survivors = dedup.dedup_keep_first(aug)
    assert survivors.count() == docs.count()


def test_minhash_identical_texts_share_signature(spark, aug):
    sig = dedup.minhash_signatures(aug)
    joined = (
        sig.alias("a")
        .join(sig.alias("b"), F.col("a.doc_id") + 10_000 == F.col("b.doc_id"))
    )
    for j in range(dedup.N_HASHES):
        assert joined.filter(F.col(f"a.mh{j}") != F.col(f"b.mh{j}")).count() == 0


def test_lsh_pairs_recall_exact_duplicates(docs, aug):
    n_planted = docs.filter(F.col("doc_id") % 5 == 0).count()
    pairs = dedup.lsh_candidate_pairs(aug)
    exact_pairs = pairs.filter(F.col("id_b") - F.col("id_a") == 10_000).count()
    assert exact_pairs == n_planted  # identical text => identical bands, always


def test_lsh_bucket_cap_drops_megabuckets(spark, docs):
    # every doc shares one band bucket with its planted twin, so cap=2
    # keeps those; cap=1 removes everything
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    aug2 = docs.unionByName(dups)
    capped = dedup.lsh_candidate_pairs(aug2, max_bucket_size=1)
    assert capped.count() == 0
    kept = dedup.lsh_candidate_pairs(aug2, max_bucket_size=2).count()
    uncapped = dedup.lsh_candidate_pairs(aug2).count()
    assert 0 < kept <= uncapped


def test_simhash_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    variant = base.replace("lazy", "idle", 1)  # one token changed
    different = "completely unrelated words about database engines " * 8
    a, b, c = (dedup.simhash64(t) for t in (base, variant, different))
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(a, b) < 12
    assert ham(a, c) > 12


def test_ann_lsh_recall_vs_bruteforce(emb):
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(emb, q, k=5).collect()
    }
    # multi-table LSH: measured recall 0.96 at defaults on this data
    assert len(approx & exact) / len(exact) >= 0.6


def test_profile_table_runs_exact_and_approx(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    for approx in (False, True):
        out = profile.profile_table(
            li, ["l_quantity", "l_extendedprice"], ["l_returnflag"], approx=approx
        )
        # single-pass guarantee: ONE scan of the input (the r1 version
        # unioned one full-table agg per column) and no Expand
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1
        assert "Expand" not in plan
        prof = out.collect()
        assert len(prof) == 3
        byname = {r.column: r for r in prof}
        assert byname["l_quantity"]["count"] == li.count()
        assert byname["l_quantity"]["min"] == 1.0
        assert byname["l_returnflag"]["kind"] == "string"
        if not approx:  # exact mode: true distinct count + exact median
            assert byname["l_quantity"]["unique"] == 50
            assert byname["l_quantity"]["q50"] == 25.0


def test_ann_ivf_recall_vs_bruteforce(emb):
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    cents = similarity.train_ivf_centroids(emb, n_centroids=8)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_ivf_topk(emb, q, cents, k=5, nprobe=4).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_ann_ivf_arrow_path_parity(emb):
    """The Arrow probe path (forced via arrow_threshold=0) must return
    byte-identical top-k to the literal-expression path — same scores,
    same ranks, same tie-breaks."""
    q = emb.filter(F.col("vec_id") < 5)
    cents = similarity.train_ivf_centroids(emb, n_centroids=8)
    lit = sorted(map(tuple, similarity.ann_ivf_topk(
        emb, q, cents, k=5, nprobe=4).collect()))
    arrow = sorted(map(tuple, similarity.ann_ivf_topk(
        emb, q, cents, k=5, nprobe=4, arrow_threshold=0).collect()))
    assert lit == arrow
    # probe-cell parity directly, nprobe > 1 (ordering + tie-break)
    lit_cells = {r.vec_id: r.cells for r in similarity.ivf_probe_cells(
        emb, cents, 3, out_col="cells").select("vec_id", "cells").collect()}
    ar_cells = {r.vec_id: r.cells for r in similarity.ivf_probe_cells(
        emb, cents, 3, out_col="cells", arrow_threshold=0)
        .select("vec_id", "cells").collect()}
    assert lit_cells == ar_cells
    # FULL-TIE input (the zero vector hash_embedding emits for empty
    # docs): every centroid scores 0, both paths must agree on the
    # lowest-cell-id tie-break (argpartition at the boundary was
    # arbitrary here — regression)
    spark = emb.sparkSession
    dim = len(emb.select("embedding").first()[0])
    zero = spark.createDataFrame(
        [(1, [0.0] * dim)], "vec_id long, embedding array<float>")
    z_lit = similarity.ivf_probe_cells(
        zero, cents, 3, out_col="cells").select("cells").first()[0]
    z_ar = similarity.ivf_probe_cells(
        zero, cents, 3, out_col="cells",
        arrow_threshold=0).select("cells").first()[0]
    assert z_lit == z_ar == [0, 1, 2]


def test_ivf_probe_broadcast_cached_across_calls(emb):
    """ADVICE r5: repeated Arrow-path probes with the same centroid
    array must reuse ONE broadcast (a serving driver calling
    ann_ivf_topk repeatedly would otherwise accumulate executor-side
    centroid copies); a different array gets its own entry."""
    cents = similarity.train_ivf_centroids(emb, n_centroids=8)
    sc = emb.sparkSession.sparkContext
    similarity._PROBE_BC_CACHE.clear()
    similarity.ivf_probe_cells(
        emb, cents, 2, out_col="c", arrow_threshold=0).count()
    assert len(similarity._PROBE_BC_CACHE) == 1
    (_s, _arr, bc_first, _d), = similarity._PROBE_BC_CACHE.values()
    # two more probes (ann_ivf_topk probes table + queries = 2 calls)
    similarity.ann_ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), cents,
        k=3, nprobe=2, arrow_threshold=0).count()
    assert len(similarity._PROBE_BC_CACHE) == 1
    (_s, _arr, bc_again, _d), = similarity._PROBE_BC_CACHE.values()
    assert bc_again is bc_first
    assert _s is sc
    other = cents + 0.0  # distinct array object -> second entry
    similarity.ivf_probe_cells(
        emb, other, 2, out_col="c", arrow_threshold=0).count()
    assert len(similarity._PROBE_BC_CACHE) == 2
    # in-place mutation keeps id(cents) but MUST invalidate the cached
    # broadcast: serving stale centroids silently is the bug class the
    # content digest exists to catch
    cents[:] = cents + 1.0
    bc_mut = similarity._centroids_bc(sc, cents)
    assert bc_mut is not bc_first
    assert (bc_mut.value == cents).all()
    similarity._PROBE_BC_CACHE.clear()


def test_train_ivf_centroids_id_correlated_sample(spark):
    """When ids are assigned contiguously per source/cluster (the
    production layout kmeans_fit's docstring warns about), a lowest-id
    driver sample trains the coarse quantizer on ONE cluster and recall
    collapses elsewhere. The hash-ordered sample must place centroids
    in every planted cluster even when the sample is much smaller than
    the corpus."""
    df, _ = _planted_emb_clusters(spark)  # ids c*1000+i: id ~ cluster
    # sample=40 = exactly one cluster's row count under lowest-id order
    cents = similarity.train_ivf_centroids(df, n_centroids=8, dim=16,
                                           sample=40)
    assigned = similarity.ivf_probe_cells(
        df, cents, 1, out_col="cells").select(
        "label", F.col("cells")[0].alias("cell"))
    per_label = {r.label: r.cell_set for r in assigned.groupBy("label").agg(
        F.collect_set("cell").alias("cell_set")).collect()}
    # every planted cluster maps to its own cell(s): pairwise disjoint
    labels = sorted(per_label)
    assert len(labels) == 4
    for i in labels:
        for j in labels:
            if i < j:
                assert not set(per_label[i]) & set(per_label[j]), (
                    i, j, per_label)


def test_index_incremental_add_equals_full_build(emb, tmp_path):
    """ivf_index_add / ann_lsh_index_add: building an index on half
    the corpus and adding the other half serves IDENTICAL top-k to an
    index built on everything at once (same centroids/planes — the
    batch path never re-reads or re-assigns the existing corpus), and
    a RETRIED add with the same batch_id is a noop (overwrites its own
    partitions — no duplicate rows, no rank corruption)."""
    import pytest

    spark = emb.sparkSession
    q = emb.filter(F.col("vec_id") < 3)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    cents = similarity.train_ivf_centroids(emb, n_centroids=8)

    full_p = str(tmp_path / "ivf_full")
    inc_p = str(tmp_path / "ivf_inc")
    similarity.save_ivf_index(emb, cents, full_p)
    similarity.save_ivf_index(old, cents, inc_p)
    similarity.ivf_index_add(spark, inc_p, new, batch_id="b1")
    _, lists_full = similarity.load_ivf_index(spark, full_p)
    c2, lists_inc = similarity.load_ivf_index(spark, inc_p)
    a = sorted(map(tuple, similarity.ann_ivf_topk_indexed(
        lists_full, q, cents, k=5, nprobe=4).collect()))
    b = sorted(map(tuple, similarity.ann_ivf_topk_indexed(
        lists_inc, q, c2, k=5, nprobe=4).collect()))
    assert a == b and len(a) > 0
    # retried add: same batch_id overwrites itself — row count stable,
    # served results unchanged
    similarity.ivf_index_add(spark, inc_p, new, batch_id="b1")
    _, lists_retry = similarity.load_ivf_index(spark, inc_p)
    assert lists_retry.count() == emb.count()
    assert sorted(map(tuple, similarity.ann_ivf_topk_indexed(
        lists_retry, q, c2, k=5, nprobe=4).collect())) == a
    with pytest.raises(ValueError, match="batch_id"):
        similarity.ivf_index_add(spark, inc_p, new, batch_id="base")

    full_l = str(tmp_path / "lsh_full")
    inc_l = str(tmp_path / "lsh_inc")
    similarity.save_ann_lsh_index(emb, full_l)
    similarity.save_ann_lsh_index(old, inc_l)
    similarity.ann_lsh_index_add(spark, inc_l, new, batch_id="b1")
    la = sorted(map(tuple, similarity.ann_lsh_topk_indexed(
        similarity.load_ann_lsh_index(spark, full_l), q, k=5).collect()))
    lb = sorted(map(tuple, similarity.ann_lsh_topk_indexed(
        similarity.load_ann_lsh_index(spark, inc_l), q, k=5).collect()))
    assert la == lb and len(la) > 0
    # retried LSH add: no duplicate vector rows, identical top-k
    similarity.ann_lsh_index_add(spark, inc_l, new, batch_id="b1")
    idx_retry = similarity.load_ann_lsh_index(spark, inc_l)
    assert idx_retry["vectors"].count() == emb.count()
    assert sorted(map(tuple, similarity.ann_lsh_topk_indexed(
        idx_retry, q, k=5).collect())) == la


def test_ann_lsh_index_save_load_roundtrip(emb, tmp_path):
    """Persisted multi-table LSH index: serving from the loaded index
    returns byte-identical top-k to the live path; the bucket table is
    table-partitioned for pruning and carries ids only (vectors stored
    once)."""
    q = emb.filter(F.col("vec_id") < 5)
    live = sorted(map(tuple, similarity.ann_lsh_topk(
        emb, q, k=5).collect()))
    path = str(tmp_path / "lsh_index")
    similarity.save_ann_lsh_index(emb, path)
    spark = emb.sparkSession
    idx = similarity.load_ann_lsh_index(spark, path)
    served = sorted(map(tuple, similarity.ann_lsh_topk_indexed(
        idx, q, k=5).collect()))
    assert served == live
    assert set(idx["buckets"].columns) == {"neighbor_id", "table",
                                           "bucket"}  # ids only
    one_table = idx["buckets"].filter(F.col("table") == 0)
    plan = one_table._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(table" in plan


def test_ivf_index_save_load_roundtrip(emb, tmp_path):
    import numpy as np

    q = emb.filter(F.col("vec_id") < 5)
    cents = similarity.train_ivf_centroids(emb, n_centroids=8)
    live = sorted(map(tuple, similarity.ann_ivf_topk(
        emb, q, cents, k=5, nprobe=4).collect()))
    path = str(tmp_path / "ivf_index")
    similarity.save_ivf_index(emb, cents, path)
    spark = emb.sparkSession
    cents2, lists = similarity.load_ivf_index(spark, path)
    assert np.allclose(cents, cents2)
    served = sorted(map(tuple, similarity.ann_ivf_topk_indexed(
        lists, q, cents2, k=5, nprobe=4).collect()))
    assert served == live
    # the cell-partitioned layout prunes the probe scan
    one_cell = lists.filter(F.col("cell") == 0)
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan


def test_needs_detail_predicate(spark):
    df = spark.createDataFrame(
        [(6.0, 10, 3), (1.0, 200_000, 3), (1.0, 10, 25), (1.0, 10, 3)],
        "null_pct double, rows long, cols int",
    )
    got = df.select(
        profile.needs_detail(F.col("null_pct"), F.col("rows"), F.col("cols")).alias("x")
    ).collect()
    assert [r.x for r in got] == [True, True, True, False]


def test_multimodal_feature_extraction(spark):
    media = multimodal.synthetic_media_df(spark, n=32)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(r.valid for r in rows)
    assert all(r.decoded_width > 0 and 0 <= r.mean_luma <= 255 for r in rows)


def test_multimodal_decode_stub_rejects_real_blobs(spark):
    media = spark.createDataFrame(
        [(1, "image", "image/jpeg", 8, 8, bytearray(b"\xff\xd8\xff\xe0 not a real jpeg"))],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.extract_features(media).collect()[0]
    assert row.valid is False and row.n_bytes > 0


def test_multimodal_resize_plumbing(spark):
    media = multimodal.synthetic_media_df(spark, n=8)
    resized = multimodal.resize_stub(media, target=16)
    feats = multimodal.extract_features(
        resized.join(media.select("media_id", "kind"), "media_id")
        .select("media_id", "kind", F.lit("image/x-syn").alias("mime"),
                F.lit(16).alias("width"), F.lit(16).alias("height"), "payload")
    )
    assert all(r.decoded_width == 16 for r in feats.collect())


def test_image_stats_exact_values(spark):
    """image_stats over real blobs equals a numpy recomputation from
    the pixel formula — the same parity the DuckDB media_profile
    oracle checks cross-engine, pinned here in-process too (fast
    failure localization when either side drifts)."""
    import numpy as np

    media = multimodal.arith_media_df(spark, n=16, planted_dups=0)
    rows = {r.media_id: r for r in multimodal.image_stats(media).collect()}
    assert len(rows) == 16
    for i in range(16):
        w, h = 8 + (i % 8) * 4, 8 + (i % 5) * 4
        pix = multimodal._arith_pixels(i, w * h).astype(np.int64)
        r = rows[i]
        assert (r.width, r.height) == (w, h)
        assert r.n_bytes == 8 + w * h
        assert r.luma_total == int(pix.sum())
        assert r.n_dark == int((pix < 85).sum())
        assert r.n_bright == int((pix >= 170).sum())
        assert r.ahash == multimodal._ahash64(
            pix.astype(np.uint8), w, h)
    # truncated payload: dropped from stats, not a crash
    bad = spark.createDataFrame(
        [(99, "image", "image/x-syn", 8, 8,
          bytearray(multimodal._MAGIC + b"\x08\x00\x08\x00" + b"\x01" * 10))],
        multimodal.MEDIA_SCHEMA)
    assert multimodal.image_stats(bad).count() == 0


def test_media_neardup_finds_planted_pairs(spark):
    """Every planted perturbed copy (1000+j vs j) surfaces as a
    near-dup pair at small hamming; unrelated hash-mixed images do
    not collide. Signature blocking reuses dedup.hamming_band_pairs —
    blobs never enter the join (only media_id + ahash columns)."""
    media = multimodal.arith_media_df(spark, n=32, planted_dups=6)
    pairs = multimodal.media_neardup_pairs(media).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    for j in range(6):
        assert (j, 1000 + j) in got, f"planted pair {j} missed"
        assert got[(j, 1000 + j)] <= 6
    # no false pairs among the 32 distinct base images
    assert not [p for p in got if p[0] < 1000 and p[1] < 1000]


def test_audio_stats_exact_values(spark):
    """audio_stats over real SYNA blobs equals a numpy recomputation
    from the sample formula (the in-process twin of the DuckDB
    media_audio_profile oracle); truncated blobs drop."""
    import numpy as np

    media = multimodal.arith_audio_df(spark, n=12)
    rows = {r.media_id: r for r in multimodal.audio_stats(media).collect()}
    assert len(rows) == 12
    for i in range(12):
        rate = 8000 if i % 2 == 0 else 16000
        n = 800 + (i % 6) * 400
        s = multimodal._arith_samples(i, n).astype(np.int64)
        r = rows[i]
        assert (r.sample_rate, r.n_samples) == (rate, n)
        assert r.duration_ms == n * 1000 // rate
        assert r.sum_amp == int(s.sum())
        assert r.sum_abs == int(np.abs(s).sum())
        assert r.peak == int(np.abs(s).max())
        assert r.n_clipped == int((np.abs(s) >= 32700).sum())
        assert r.energy == int((s * s).sum())
    # both polarities actually exercised (signed PCM, not unsigned —
    # `and`, not `or`: any nonzero data satisfies the disjunction, only
    # the conjunction proves negative samples survive the decode)
    assert any(rows[i].sum_amp < 0 for i in range(12)) and \
        any(rows[i].sum_amp > 0 for i in range(12))
    import struct as _struct
    bad = spark.createDataFrame(
        [(99, "audio", "audio/x-syn", None, None,
          bytearray(multimodal._AMAGIC + _struct.pack("<HI", 8000, 100)
                    + b"\x01\x02" * 10))],
        multimodal.MEDIA_SCHEMA)
    assert multimodal.audio_stats(bad).count() == 0
    # image blobs in an audio query: rejected by the decoder, dropped
    mixed = multimodal.arith_media_df(spark, n=4, planted_dups=0)
    assert multimodal.audio_stats(mixed).count() == 0


def test_media_resolution_profile(spark):
    media = multimodal.arith_media_df(spark, n=40, planted_dups=0)
    prof = multimodal.resolution_profile(media).collect()
    assert sum(r.n_images for r in prof) == 40
    # 8 widths x 5 heights cycle: every (w, h) combo of the 40-ladder
    assert all(r.total_bytes == r.n_images * (8 + r.width * r.height)
               for r in prof)


def test_cli_media_report_smoke(spark, tmp_path, capsys):
    """`dataqa media <parquet> --neardup --json`: the composed media
    report over a mixed image+audio corpus — resolution profile,
    audio totals, planted near-dup pairs — all behind one command."""
    import json

    from dataquality_cli_spark.__main__ import main

    path = str(tmp_path / "media.parquet")
    multimodal.arith_media_df(spark, n=16, planted_dups=3).unionByName(
        multimodal.arith_audio_df(spark, n=6).withColumn(
            "media_id", F.col("media_id") + 5000)
    ).unionByName(
        multimodal.arith_video_df(spark, n=5).withColumn(
            "media_id", F.col("media_id") + 7000)
    ).write.parquet(path)
    rc = main(["media", path, "--neardup", "--json"])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines()
           if l.startswith("{")][-1]
    rep = json.loads(out)
    assert rep["media"] == {"audio": 6, "image": 19, "video": 5}
    assert sum(r["n_images"] for r in rep["resolutions"]) == 19
    assert rep["audio"]["tracks"] == 6 and rep["audio"]["total_ms"] > 0
    # ladder i=0..4 -> nf 4,7,10,13,16 -> sampled 2+4+5+7+8, cuts 0+1+2+3+3
    assert rep["video"] == {"videos": 5, "sampled_frames": 26,
                            "scene_cuts": 9}
    assert rep["image_neardup_pairs"] >= 3   # the planted copies


def test_asof_join_small_fixture(spark):
    from dataquality_cli_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 2, "c"), (2, 7, "d"), (3, 1, "e")],
        "user_id int, ts int, event_id string",
    )
    right = spark.createDataFrame(
        [(1, 3, 30.0), (1, 5, 50.0), (1, 9, 90.0), (2, 8, 80.0)],
        "user_id int, ts int, ref_value double",
    )
    out = asof_join(left, right, on="ts", by="user_id", value_cols=["ref_value"])
    got = {r.event_id: r.ref_value_asof for r in out.collect()}
    # a: ts=5 -> right ts=5 (<= semantics, tie counts) -> 50
    # b: ts=10 -> right ts=9 -> 90;  c: ts=2 -> none -> None
    # d: ts=7 -> right(2) ts=8 is in the future -> None;  e: no right rows -> None
    assert got == {"a": 50.0, "b": 90.0, "c": None, "d": None, "e": None}
    assert out.count() == left.count()


def test_range_join_matches_theta_join_and_avoids_nested_loop(spark):
    from dataquality_cli_spark.operators.rangejoin import range_join

    import random
    rng = random.Random(7)
    left = spark.createDataFrame(
        [(rng.randrange(5), i, (s := rng.randrange(1000)), s + rng.randrange(1, 50))
         for i in range(120)],
        "user_id int, click_id int, start long, end long",
    )
    right = spark.createDataFrame(
        [(rng.randrange(5), rng.randrange(1050), float(i)) for i in range(300)],
        "user_id int, ts long, value double",
    )
    got = range_join(left, right, by="user_id")
    naive = left.join(right, "user_id").filter("ts >= start AND ts <= end")
    key = ["user_id", "click_id", "ts", "value"]
    assert sorted(map(tuple, got.select(key).collect())) == \
        sorted(map(tuple, naive.select(key).collect()))
    assert got.count() > 0
    # scale guard: the plan must be an equi join, not a nested loop
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_bpe_token_stats_small_fixture(spark):
    from dataquality_cli_spark.operators import text

    df = spark.createDataFrame(
        [(1, "foo_bar 12ab, (x)=3"), (2, ""), (3, "aaa aaa aaa")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bpe_tokens, r.n_bpe_types, r.type_token_ratio)
           for r in text.bpe_token_stats(df).collect()}
    # foo,_,bar,12,ab,",","(",x,")","=",3  -> 11 tokens, all distinct
    assert got[1] == (11, 11, 1.0)
    assert got[2] == (0, 0, 0.0)
    assert got[3] == (3, 1, 0.3333)


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check against the independent pandas implementation."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataquality_cli_spark.operators.asof import asof_join

    row = st.tuples(st.integers(0, 3), st.integers(0, 50))

    @settings(max_examples=12, deadline=None)
    @given(left=st.lists(row, min_size=1, max_size=20),
           right=st.lists(row, min_size=1, max_size=20))
    def check(left, right):
        ldf = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(left)],
            "k int, ts int, row_id int")
        # dedupe right on (k, ts): merge_asof needs unique sort keys per
        # group to be deterministic; keep the max value like the driver query
        rmap = {}
        for k, t in right:
            rmap[(k, t)] = max(rmap.get((k, t), -1.0), float(t + k))
        rdf = spark.createDataFrame(
            [(k, t, v) for (k, t), v in rmap.items()], "k int, ts int, val double")
        got = {
            r.row_id: r.val_asof
            for r in asof_join(ldf, rdf, on="ts", by="k",
                               value_cols=["val"]).collect()
        }
        lp = pd.DataFrame([(k, t, i) for i, (k, t) in enumerate(left)],
                          columns=["k", "ts", "row_id"]).sort_values("ts")
        rp = pd.DataFrame([(k, t, v) for (k, t), v in rmap.items()],
                          columns=["k", "ts", "val"]).sort_values("ts")
        exp = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        for _, r in exp.iterrows():
            e = None if pd.isna(r["val"]) else r["val"]
            assert got[r["row_id"]] == e, (r["row_id"], got[r["row_id"]], e)

    check()


def test_video_frame_sampling_plumbing(spark):
    vids = multimodal.synthetic_video_df(spark, n=12)
    frames = multimodal.sample_frames(vids, every_k=3)
    rows = frames.collect()
    # every video contributes ceil(n_frames/3) frames at indices 0,3,6...
    import struct as _s
    expected = sum(
        -(-(_s.unpack("<HHH", bytes(v.payload)[4:10])[2]) // 3)
        for v in vids.collect()
    )
    assert len(rows) == expected
    assert all(r.frame_idx % 3 == 0 for r in rows)
    # sampled frames are valid SYNM images for the downstream extractor
    feats = multimodal.extract_features(
        frames.selectExpr("media_id", "'image' AS kind", "'image/x-syn' AS mime",
                          "8 AS width", "8 AS height", "payload"))
    assert all(f.valid for f in feats.collect())


def test_video_scene_cuts_planted(spark):
    """The SYNV arithmetic corpus plants a scene change every 4 frames
    (make_arith_video reseeds at fi//4); with every_k=2 sampling the
    expected cut count is the number of sampled transitions that cross
    a scene boundary — a pure function of the frame-count ladder:
    nf = 4 + (i % 5) * 3 frames -> sampled scenes per ladder step
    [0,0] [0,0,1,1] [0,0,1,1,2] [0..3] [0..3,3] -> cuts [0,1,2,3,3].
    Within-scene neighbours differ only in the every-97th-pixel wobble
    (aHash hamming ~0), across scenes the image fully reseeds
    (hamming ~32) — so the threshold-10 verdict is the planted truth,
    not a vacuous always-cut/never-cut readout (the r1 lesson)."""
    vids = multimodal.arith_video_df(spark, n=24)
    got = {r.media_id: r for r in
           multimodal.video_scene_cuts(vids).collect()}
    assert len(got) == 24
    expected_cuts = [0, 1, 2, 3, 3]
    for i in range(24):
        nf = 4 + (i % 5) * 3
        assert got[i].n_sampled == -(-nf // 2), (i, got[i])
        assert got[i].n_cuts == expected_cuts[i % 5], (i, got[i])
    # luma conservation: scene totals == sum of the per-frame profile
    frame_sum = {r.media_id: r.s for r in
                 multimodal.video_frame_profile(vids)
                 .groupBy("media_id")
                 .agg(F.sum("luma_total").alias("s")).collect()}
    assert all(got[i].luma_total == frame_sum[i] for i in range(24))


def test_neardup_clusters_chain_and_triangle(spark):
    from dataquality_cli_spark.operators.dedup import neardup_clusters

    # chain 1-2-3-4-5 (diameter 4 -> needs several propagation rounds),
    # triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_lsh_verified_default_cap_bounds_megabucket(spark, docs):
    """One boilerplate text shared by many docs is ONE quadratic bucket;
    the production flow's default cap must bound the candidate count and
    report the dropped buckets via metrics_out."""
    boiler = spark.range(500).select(
        (F.col("id") + 50_000).alias("doc_id"),
        F.lit("permission is hereby granted free of charge to any person "
              "obtaining a copy of this software and associated files " * 3
              ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("boiler").alias("source"),
        F.lit(200).alias("n_chars"),
    )
    flood = docs.unionByName(boiler)
    metrics: dict = {}
    pairs = dedup.lsh_verified_pairs(flood, metrics_out=metrics)
    n = pairs.count()
    # uncapped, the 500-doc bucket alone would emit 124,750 pairs
    assert n < 10_000
    assert metrics["dropped_buckets"] >= 1
    # and the real near-dups elsewhere in the corpus are unaffected
    uncapped_real = dedup.lsh_verified_pairs(
        docs, max_bucket_size=None).count()
    capped_real = dedup.lsh_verified_pairs(docs).count()
    assert capped_real == uncapped_real


def test_neardup_clusters_long_chain_converges_logarithmically(spark):
    """Star contraction must handle the case min-label propagation
    couldn't: a chain-shaped component with diameter >> rounds. A
    128-diameter chain (chained boilerplate at 100 TB) must converge in
    O(log n) rounds — <= 12 here — with every node labeled by the
    component minimum."""
    from dataquality_cli_spark.operators.dedup import neardup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(128)], "id_a long, id_b long"
    )
    metrics: dict = {}
    got = {r.doc_id: r.cluster_id
           for r in neardup_clusters(chain, metrics_out=metrics).collect()}
    assert got == {i: 0 for i in range(129)}
    assert metrics["rounds"] <= 12, metrics
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        neardup_clusters(chain, max_iter=1)
    # two components + reversed-order pairs: labels are per-component minima
    two = spark.createDataFrame(
        [(5, 4), (4, 3), (90, 91), (91, 92), (92, 90)],
        "id_a long, id_b long",
    )
    got2 = {r.doc_id: r.cluster_id for r in neardup_clusters(two).collect()}
    assert got2 == {3: 3, 4: 3, 5: 3, 90: 90, 91: 90, 92: 90}


def test_neardup_clusters_releases_earlier_rounds(spark):
    """Each round's checkpoint releases the one before it: a call on the
    128-node chain (several rounds) leaves at most the last round's
    checkpoint persisted, which its output reads."""
    from dataquality_cli_spark.operators.dedup import neardup_clusters

    def persisted_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(128)], "id_a long, id_b long"
    )
    for _ in range(2):
        before = persisted_ids()
        metrics: dict = {}
        out = neardup_clusters(chain, metrics_out=metrics)
        assert metrics["rounds"] > 1, metrics
        assert len(persisted_ids() - before) <= 1
        assert out.filter(F.col("cluster_id") == 0).count() == 129


def test_lsh_incremental_matches_full_run_for_new_pairs(spark, docs, aug):
    """Incremental candidates (new batch vs existing band index) must
    equal the full run's pairs that touch a new doc — and never emit an
    old x old pair (already produced by the previous full run)."""
    new = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000)
    old_bands = dedup.lsh_bands(dedup.minhash_signatures(docs))
    inc = {(r.id_a, r.id_b) for r in
           dedup.lsh_incremental_pairs(new, old_bands).collect()}
    full = {(r.id_a, r.id_b) for r in
            dedup.lsh_candidate_pairs(aug).collect()}
    touching_new = {p for p in full if p[0] >= 10_000 or p[1] >= 10_000}
    assert inc == touching_new
    assert all(a >= 10_000 or b >= 10_000 for a, b in inc)
    # capped path: a boilerplate flood present in BOTH old corpus and the
    # new batch is one over-full union bucket — dropped from both sides,
    # observable via metrics_out, real near-dups unaffected
    boiler = spark.range(200).select(
        (F.col("id") + 50_000).alias("doc_id"),
        F.lit("permission is hereby granted free of charge " * 6).alias("text"),
        F.lit("en").alias("lang"), F.lit("b").alias("source"),
        F.lit(200).alias("n_chars"))
    old_flood = docs.unionByName(boiler)
    new_flood = new.unionByName(
        boiler.limit(50).withColumn("doc_id", F.col("doc_id") + 1_000_000))
    flood_bands = dedup.lsh_bands(dedup.minhash_signatures(old_flood))
    metrics: dict = {}
    capped = {(r.id_a, r.id_b) for r in dedup.lsh_incremental_pairs(
        new_flood, flood_bands, max_bucket_size=64,
        metrics_out=metrics).collect()}
    assert metrics["dropped_buckets"] >= 1
    assert not any(a >= 1_000_000 or b >= 1_000_000 for a, b in capped)
    assert capped == touching_new  # the planted dups still all found


def test_value_outliers_planted(spark):
    """A planted far-out value is flagged in its own group only; a
    constant group (std == 0) reports zero outliers, not everything."""
    from dataquality_cli_spark.operators.profile import value_outliers

    rows = [("a", float(v)) for v in range(100)] + [("a", 10_000.0)]
    rows += [("b", 5.0)] * 50
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: r for r in value_outliers(df, "g", "v").collect()}
    assert got["a"].n_outliers == 1 and got["a"].max_abs_z > 3
    assert got["b"].n_outliers == 0 and got["b"].max_abs_z is None
    assert got["a"].n_values == 101 and got["b"].n_values == 50


def test_neardup_clusters_matches_union_find(spark):
    """Property check of star contraction against an independent pure-
    Python union-find on random small graphs (self-loops, duplicates,
    reversed edges included)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataquality_cli_spark.operators.dedup import neardup_clusters

    edge = st.tuples(st.integers(0, 30), st.integers(0, 30))

    @settings(max_examples=8, deadline=None)
    @given(edges=st.lists(edge, min_size=1, max_size=40))
    def check(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a != b:  # a self-loop alone puts no doc in a cluster
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for x in parent}
        # the raw edges go in: self-loops, duplicates and reversed pairs
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        rows = neardup_clusters(df).collect()
        got = {r.doc_id: r.cluster_id for r in rows}
        assert got == expected, (sorted(edges), got, expected)
        assert len(rows) == len(got), "a doc_id appears twice"

    check()


def test_neardup_clusters_stops_at_first_star(spark):
    """An edge set that is already a star rooted at its minimum is the
    fixpoint: contraction stops after the round that finds it, with no
    confirmation round."""
    from dataquality_cli_spark.operators.dedup import neardup_clusters

    star = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    metrics: dict = {}
    got = {r.doc_id: r.cluster_id
           for r in neardup_clusters(star, metrics_out=metrics).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    assert metrics["rounds"] == 1, metrics


def test_neardup_clusters_empty_pairs(spark):
    from dataquality_cli_spark.operators.dedup import neardup_clusters

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert neardup_clusters(empty).count() == 0


def test_ngram_jaccard_null_lang_matches_oracle(spark):
    """NULL-lang docs form no block: the DuckDB oracle's block = block
    equi-join never pairs them, so neither may the operator — even when
    they are exact copies that would top the ranking."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import oracle_sql

    base = "the quick brown fox jumps over the lazy dog near the river "
    rows = [
        (1, base, "en"), (2, base + "bank", "en"), (3, base + "side", "en"),
        (4, base * 2, None), (5, base * 2, None), (6, base, None),
        (7, base + "bank", "de"), (8, "an unrelated text of its own", "de"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(con.sql(oracle_sql()["dedup_ngram_jaccard_top"]).fetchall())
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(df).collect())
    assert got == want
    assert {(1, 2), (1, 3), (2, 3), (7, 8)} == {(a, b) for a, b, _ in got}


def test_select_representatives_picks_best_score(spark):
    """The keeper is the highest-scoring member (lowest id on ties) —
    NOT the cluster label's min-id convention."""
    from dataquality_cli_spark.operators.dedup import select_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long")
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.4)],
        "doc_id long, quality_score double")
    got = {r.cluster_id: r for r in
           select_representatives(clusters, scores).collect()}
    assert got[1].rep_id == 2 and got[1].rep_score == 0.9  # tie -> min id
    assert got[1].n_members == 3
    assert got[10].rep_id == 10 and got[10].n_members == 2


def test_capped_band_path_has_no_window_or_sort(spark, docs):
    """The bucket cap must be the broadcast-anti-join shape on EVERY LSH
    flow: no Window node (a window count sorts the whole band table) and
    the anti-join side broadcast."""
    from dataquality_cli_spark.operators.similarity import neardup_pairs_lsh

    for out in (
        dedup.lsh_candidate_pairs(docs, max_bucket_size=64),
        neardup_pairs_lsh(
            spark.read.parquet(f"{SF}/embeddings.parquet"),
            max_bucket_size=64),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan[:2000]
        assert "LeftAnti, BuildRight" in plan or (
            "BroadcastHashJoin" in plan and "LeftAnti" in plan), plan[:2000]


def test_simhash_multiband_recall_guarantee(spark):
    """Pigeonhole recall: a pair at hamming <= n_bands-1 ALWAYS shares a
    band (the r1 top-band-only variant missed flips landing in the top
    16 bits). Plant signatures differing in exactly 3 chosen top bits."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    near_top = base.replace("quick", "quack", 1)  # some bits differ
    sig_a = dedup.simhash64(base)
    # craft a text whose flips we control is hard; instead test the
    # OPERATOR on real texts and assert all <=3-hamming pairs survive
    df = spark.createDataFrame(
        [(1, base), (2, near_top), (3, base + " extra tail tokens here"),
         (4, "completely different content about spark physical plans " * 6)],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.hamming
           for r in dedup.simhash_neardup_pairs(df, max_hamming=63).collect()}
    # exhaustive check: every pair within 3 bits is present
    sigs = {r.doc_id: r.simhash
            for r in dedup.simhash_signatures(df).collect()}
    for i in sigs:
        for j in sigs:
            if i < j and bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1") <= 3:
                assert (i, j) in got


def test_simhash_nondividing_bands_cover_all_bits(spark):
    """n_bands not dividing 64 (e.g. 5) must still place every bit in a
    band (last band widens): a pair differing ONLY in the top 4 bits —
    the bits the r2 version silently dropped — must NOT collide in every
    band; with those bits covered, hamming=4 <= n_bands-1 pairs are
    still guaranteed a shared band among the untouched ones."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    other = "totally disjoint vocabulary for the second cluster " * 6
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string")
    # identical texts: candidates at any n_bands, incl. non-dividing
    for nb in (3, 5, 7):
        got = {(r.id_a, r.id_b)
               for r in dedup.simhash_neardup_pairs(
                   df, max_hamming=0, n_bands=nb).collect()}
        assert (1, 2) in got and (1, 3) not in got
    # structural: the widened last band makes the widths sum to 64
    for nb in (3, 5, 6, 7, 9):
        base_w = 64 // nb
        widths = [base_w] * (nb - 1) + [base_w + 64 % nb]
        assert sum(widths) == 64
    import pytest
    with pytest.raises(ValueError, match="n_bands"):
        dedup.simhash_neardup_pairs(df, n_bands=1)


def test_emb_neardup_lsh_recall_vs_exact(spark, emb):
    """LSH-blocked embedding near-dup (the production block) must
    recover the planted exact duplicates (cosine 1.0) with certainty —
    identical vectors share every bucket — and most of the exact
    label-blocked pairs at the same threshold."""
    dups = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 100_000)
    aug = emb.unionByName(dups)
    got = {(r.id_a, r.id_b)
           for r in similarity.neardup_pairs_lsh(aug, threshold=0.80).collect()}
    planted = {(i, i + 100_000) for i in range(10)}
    assert planted <= got
    exact = {(r.id_a, r.id_b)
             for r in similarity.neardup_pairs_cosine(aug, threshold=0.80).collect()}
    # label blocking and LSH blocking generate different candidate sets;
    # on the planted positives LSH is exhaustive, and overall it should
    # find a healthy share of what label blocking finds
    if exact:
        assert len(got & exact) / len(exact) >= 0.5


def test_emb_neardup_lsh_skips_null_vector(spark, emb):
    """A NULL embedding lands in no bucket: the run does not raise, and
    every pair among the other vectors is unchanged."""
    dups = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 100_000)
    aug = emb.unionByName(dups)
    null_row = emb.limit(1).select(
        F.lit(999_999).cast("long").alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.col("label"))
    want = sorted(similarity.neardup_pairs_lsh(aug, threshold=0.80).collect())
    got = sorted(similarity.neardup_pairs_lsh(
        aug.unionByName(null_row), threshold=0.80).collect())
    assert want and got == want


def test_drift_psi_detects_planted_shift(spark):
    """PSI near 0 for identical snapshots; large for a shifted one."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    same = profile.drift_psi(li, li, "l_extendedprice",
                             width=10_000.0, n_buckets=10).collect()[0]
    assert same.drift == "stable" and abs(same.psi) < 0.01
    shifted = li.withColumn("l_extendedprice", F.col("l_extendedprice") * 3)
    moved = profile.drift_psi(shifted, li, "l_extendedprice",
                              width=10_000.0, n_buckets=10).collect()[0]
    assert moved.psi > 0.25 and moved.drift == "action"


def test_schema_drift_detects_changes(spark):
    ref = spark.createDataFrame([(1, "x", 2.0)], "id long, name string, v double")
    cur = spark.createDataFrame([(1, "x", 2)], "id long, name string, v int") \
        .withColumn("extra", F.lit(True)).drop("name")
    drift = profile.schema_drift(cur, ref)
    by_col = {d["column"]: d for d in drift}
    assert by_col["extra"]["change"] == "added"
    assert by_col["name"]["change"] == "removed"
    assert by_col["v"]["change"] == "type_changed"
    assert profile.schema_drift(ref, ref) == []


def test_schema_drift_flags_duplicate_names(spark):
    a = spark.createDataFrame([(1,)], "id long")
    b = spark.createDataFrame([("x",)], "id string")
    dup = a.crossJoin(b)  # two 'id' columns of different types
    drift = profile.schema_drift(dup, a)
    assert any(d["column"] == "id" and d["change"] == "duplicate_name"
               for d in drift)


def test_quantile_buckets_no_global_sort(spark):
    """Equal-value bucketing must never plan a Window or a global Sort
    (the ntile decile's scale flaw) and must spread rows across buckets
    ~equally on continuous data."""
    from dataquality_cli_spark.operators.profile import quantile_buckets

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", F.col("l_extendedprice").alias("v"))
    out = quantile_buckets(li, "v", n_buckets=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # ('ntile' substring-matches 'percentile')
    counts = {r.bucket: r.n for r in
              out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {1, 2, 3, 4}
    n = sum(counts.values())
    for b, c in counts.items():
        assert abs(c - n / 4) < 0.05 * n + 5, counts


def test_distributed_ntile_matches_global_window(spark):
    """distributed_ntile == the single-partition ntile window for
    several n (incl. n > rows and uneven splits), with NO
    SinglePartition exchange in its plan."""
    from pyspark.sql import Window

    from dataquality_cli_spark.operators.profile import distributed_ntile

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.monotonically_increasing_id().alias("rid"),
        F.col("l_extendedprice").alias("v")).limit(997).cache()
    order = [F.desc("v"), F.asc("rid")]
    for n_tiles in (10, 4, 3, 2000):
        got = distributed_ntile(li, n_tiles, order, n_parts=16)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        g = {r.rid: r._tile for r in got.collect()}
        w = Window.orderBy(*order)
        exp = {r.rid: r.t for r in li.select(
            "rid", F.ntile(n_tiles).over(w).alias("t")).collect()}
        assert g == exp, n_tiles
    li.unpersist()


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token lands in >= 1 chunk; consecutive chunks share exactly
    `overlap` tokens; short docs yield one curtailed chunk."""
    from dataquality_cli_spark.operators.text import chunk_documents

    long_text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, long_text), (2, "a b c"), (3, "x")], "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=16, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_start)
    # stride 12, last start <= n - overlap - 1 = 95: 0,12,...,84 — the
    # old upper bound also emitted 96, a chunk fully inside 84's
    assert [r.chunk_start for r in c1] == list(range(0, 96, 12))
    toks = long_text.split(" ")
    covered = set()
    for r in c1:
        piece = r.chunk_text.split(" ")
        assert piece == toks[r.chunk_start:r.chunk_start + 16]
        assert r.n_chunk_tokens == len(piece)
        covered.update(range(r.chunk_start, r.chunk_start + len(piece)))
    assert covered == set(range(100))
    # consecutive chunks overlap by exactly `overlap` tokens: each
    # chunk's tail equals the next chunk's head
    for prev, nxt in zip(c1, c1[1:]):
        assert prev.chunk_text.split(" ")[-4:] == \
            nxt.chunk_text.split(" ")[:4]
    # every chunk introduces at least one new token vs its predecessor
    for prev, nxt in zip(c1, c1[1:]):
        assert nxt.chunk_start + nxt.n_chunk_tokens \
            > prev.chunk_start + prev.n_chunk_tokens
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_chunk_tokens == 3
    assert len(by_doc[3]) == 1 and by_doc[3][0].chunk_text == "x"
    import pytest
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_vocabulary_counts_and_tiebreak(spark):
    from dataquality_cli_spark.operators.text import vocabulary

    df = spark.createDataFrame(
        [(1, "b a b c"), (2, "a b z")], "doc_id long, text string")
    rows = vocabulary(df, top_k=3).collect()
    assert [(r.token, r.n) for r in rows] == [("b", 3), ("a", 2), ("c", 1)]


def test_repetition_signals_planted_fixtures(spark):
    """Gopher-style repetition gates on hand-computed fixtures."""
    from dataquality_cli_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            # 4 lines, 2 distinct ("a b" dup, "c d" dup) -> dup_line 0.5;
            # tokens: a b a b c d c d -> top token 2/8, 2-grams: 7 total
            # (a b, b a, a b, b c, c d, d c, c d) -> 2 dup / 7
            (1, "a b\na b\nc d\nc d"),
            (2, "all tokens unique here now"),       # no repetition
            (3, "spam spam spam spam"),              # top token 1.0
            (4, "x"),                                # 1 token, no 2-grams
        ],
        "doc_id long, text string",
    )
    # the space tokenizer sees newlines as part of tokens; use the same
    # semantics both sides — just assert the planted extremes
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert got[1].dup_line_fraction == 0.5
    assert got[2].dup_line_fraction == 0.0
    assert got[2].top_token_fraction == pytest.approx(0.2)
    assert got[2].dup_2gram_fraction == 0.0
    assert got[3].top_token_fraction == 1.0
    assert got[3].dup_2gram_fraction == pytest.approx(2 / 3, abs=1e-4)
    assert got[4].dup_2gram_fraction == 0.0 and got[4].n_tokens == 1


def test_compression_ratio_separates_repetitive_from_diverse(spark):
    from dataquality_cli_spark.operators.text import compression_ratio

    import hashlib
    entropy = "".join(hashlib.sha256(str(i).encode()).hexdigest()
                      for i in range(40))
    df = spark.createDataFrame(
        [(1, "spam " * 400),       # highly repetitive
         (2, entropy),             # high-entropy hex stream
         (3, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.compression_ratio for r in compression_ratio(df).collect()}
    assert got[1] < 0.05            # template spam compresses away
    assert got[2] > 0.4             # high-entropy text barely compresses
    assert got[3] == 1.0            # empty-doc convention
    # determinism across runs (fixed zlib level)
    again = {r.doc_id: r.compression_ratio for r in compression_ratio(df).collect()}
    assert got == again


def test_remove_repeated_spans_deletes_boilerplate(spark):
    """A 15-token passage pasted into many otherwise-unique docs must be
    deleted from every doc; unique content stays byte-identical."""
    boiler = " ".join(f"license term{i}" for i in range(8))  # 16 tokens
    uniq = [f"unique body {i} alpha beta gamma delta " * 3 for i in range(12)]
    rows = [(i, f"{u.strip()} {boiler} tail{i}") for i, u in enumerate(uniq)]
    rows.append((100, "completely standalone document with no shared text"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.remove_repeated_spans(
        df, k_tokens=13, min_docs=5).collect()}
    for i, u in enumerate(uniq):
        cleaned = out[i].cleaned_text
        assert "license" not in cleaned and "term3" not in cleaned, cleaned
        assert out[i].n_tokens_removed >= 13
        # the unique prefix survives
        assert cleaned.startswith("unique body")
    # untouched doc passes through byte-identical
    assert out[100].cleaned_text == rows[-1][1]
    assert out[100].n_tokens_removed == 0


def test_cross_doc_span_dedup_keeps_one_copy(spark):
    """Keep-one substring dedup (Lee et al. shape): a passage planted
    in N docs survives in exactly its canonical occurrence (lowest doc,
    earliest position — including vs a second copy in the SAME doc) and
    is deleted everywhere else; unique docs pass through untouched."""
    import random

    rng = random.Random(99)
    passage = " ".join(f"p{rng.randrange(10**6)}" for _ in range(15))

    def filler(n):
        return " ".join(f"f{rng.randrange(10**9)}" for _ in range(n))

    rows = [
        # canonical doc: passage TWICE — second copy must be deduped too
        (0, f"{filler(5)} {passage} {filler(4)} {passage}"),
        (1, f"{passage} {filler(10)}"),
        (2, f"{filler(8)} {passage}"),
        (3, filler(20)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.dedup_cross_doc_spans(
        df, k_tokens=13, min_docs=3).collect()}
    # canonical occurrence survives, exactly once
    assert out[0].cleaned_text.count(passage) == 1
    assert out[0].n_tokens_removed == 15          # the second copy
    # every other doc loses the passage, keeps its unique text
    for d in (1, 2):
        assert passage not in out[d].cleaned_text
        assert out[d].n_tokens_removed == 15
    assert out[1].cleaned_text.endswith(rows[1][1].split(passage)[1].strip())
    assert out[2].cleaned_text.startswith("f")
    # untouched doc byte-identical
    assert out[3].cleaned_text == rows[3][1]
    assert out[3].n_tokens_removed == 0
    # below min_docs nothing is touched (distinct-doc count: doc 0's
    # two copies count once)
    none = {r.doc_id: r for r in dedup.dedup_cross_doc_spans(
        df, k_tokens=13, min_docs=4).collect()}
    assert all(none[d].n_tokens_removed == 0 for d in (0, 1, 2, 3))


def test_tfidf_top_terms_salience_and_bounds(spark):
    from dataquality_cli_spark.operators import text as T

    rows = [
        (1, "the the the zebra"),   # 'the' everywhere, 'zebra' only here
        (2, "the cat sat"),
        (3, "the dog ran"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.tfidf_top_terms(df, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    # rare 'zebra' outranks thrice-repeated ubiquitous 'the' in doc 1:
    # idf(the)=ln(4/4)+1=1 -> tfidf(the)=3; idf(zebra)=ln(4/2)+1 -> ~1.69
    d1 = sorted(by_doc[1], key=lambda r: -r.tfidf)
    assert d1[0].term == "the" and d1[0].tf == 3 and d1[0].doc_freq == 3
    assert d1[1].term == "zebra" and d1[1].doc_freq == 1
    import math
    assert d1[1].tfidf == pytest.approx(
        round(1 * (math.log(4 / 2) + 1), 6))
    # rare terms (idf ~1.69) both outrank ubiquitous 'the' (idf = 1)
    assert {r.term for r in by_doc[2]} == {"cat", "sat"}
    # determinism: equal-score terms tie-break lexicographically, so at
    # top_k=1 the winner among {cat, sat} is 'cat'
    one = {r.doc_id: r.term
           for r in T.tfidf_top_terms(df, top_k=1).collect()}
    assert one[2] == "cat" and one[3] == "dog"


def test_bigram_lm_counts_and_conditionals(spark):
    from dataquality_cli_spark.operators import text as T

    rows = [
        (1, "a b a b"),
        (2, "a b c"),
        (3, "x"),          # 1-token doc: contributes no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.w1, r.w2): r for r in T.bigram_lm_top(df, top_k=100).collect()}
    # bigrams: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b),(b,c)
    assert out[("a", "b")].n_pair == 3
    assert out[("b", "a")].n_pair == 1
    assert out[("b", "c")].n_pair == 1
    assert ("x", "x") not in out and len(out) == 3
    # MLE conditionals per context sum to 1
    assert out[("a", "b")].p_next == pytest.approx(1.0)
    assert out[("b", "a")].p_next == pytest.approx(0.5)
    assert out[("b", "c")].p_next == pytest.approx(0.5)
    assert out[("a", "b")].n_ctx == 3 and out[("b", "a")].n_ctx == 2


def test_normalized_dedup_folds_case_and_punct(spark):
    rows = [
        (1, "Hello, World!"),
        (2, "hello   world"),      # same after normalization
        (3, "HELLO WORLD?"),       # same after normalization
        (4, "goodbye world"),      # unique
        (5, "goodbye world"),      # raw exact dup of 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {r.keeper_id: r for r in
              dedup.normalized_dup_groups(df).collect()}
    assert set(groups) == {1, 4}
    g1, g4 = groups[1], groups[4]
    assert g1.n_docs == 3 and g1.n_raw_variants == 3  # norm-only catches
    assert g4.n_docs == 2 and g4.n_raw_variants == 1  # raw dup folds too
    # raw exact dedup sees only the {4,5} group — normalization strictly
    # widens the catch
    raw = dedup.exact_dup_groups(df).collect()
    assert len(raw) == 1 and raw[0].keeper_id == 4


def test_split_leak_check_finds_cross_split_dups(spark, docs, aug):
    from dataquality_cli_spark.operators.sampling import (
        _hex_threshold, split_leak_check)

    leaks = split_leak_check(aug, val_fraction=0.25)
    rows = leaks.collect()
    assert len(rows) > 0  # planted dups straddle any hash split
    # every flagged doc really is on the val side of the md5 threshold
    thr = _hex_threshold(0.25)
    val_ids = {
        r.doc_id
        for r in aug.withColumn(
            "h", F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        ).filter(F.col("h") < thr).select("doc_id").collect()
    }
    assert {r.doc_id for r in rows} <= val_ids
    # at least one planted twin (id >= 10k, text identical to its train-
    # side original) is flagged with a saturated hit count
    twin = [r for r in rows if r.doc_id >= 10_000]
    assert twin and all(r.n_hits >= 3 for r in rows)


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "doc_id long, text string")
    out = {r.doc_id: r.status for r in dedup.snapshot_diff(old, new).collect()}
    # 1 unchanged -> absent; 2 changed; 3 removed; 4 added
    assert out == {2: "changed", 3: "removed", 4: "added"}


def test_source_dup_rate(spark):
    rows = [
        (1, "x", "crawlA"), (2, "x", "crawlA"),   # dup pair inside A
        (3, "y", "crawlA"),                        # unique in A
        (4, "z", "crawlB"), (5, "z", "crawlA"),    # cross-source dup
        (6, "w", "crawlB"),                        # unique in B
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in dedup.source_dup_rate(df).collect()}
    a, b = out["crawlA"], out["crawlB"]
    assert a.n_docs == 4 and a.n_dup_docs == 3  # docs 1,2,5
    assert b.n_docs == 2 and b.n_dup_docs == 1  # doc 4 (dup with A's 5)
    assert a.dup_rate == pytest.approx(0.75)
    assert b.dup_rate == pytest.approx(0.5)


def test_embedding_centroids_exact_means(spark):
    rows = [
        (1, [1.0, 2.0], 0),
        (2, [3.0, 4.0], 0),
        (3, [10.0, 20.0], 7),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {(r.label, r.dim): r for r in
           similarity.embedding_centroids(df).collect()}
    assert out[(0, 0)].c == pytest.approx(2.0)
    assert out[(0, 1)].c == pytest.approx(3.0)
    assert out[(7, 0)].c == pytest.approx(10.0)
    assert all(r.n_vecs == 2 for k, r in out.items() if k[0] == 0)
    assert len(out) == 4  # 2 labels x 2 dims


def test_normalize_idempotent_and_case_insensitive_random(spark):
    # randomized invariant check: normalize(normalize(x)) == normalize(x)
    # and normalize(x) == normalize(upper(x)) for arbitrary-ish text
    import random

    rng = random.Random(123)
    alphabet = list("abcXYZ019 .,;!?\"'\t\n-_#@/\\()[]{}éßλ中")
    rows = [(i, "".join(rng.choice(alphabet)
                        for _ in range(rng.randrange(0, 80))))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n1 = dedup.normalize_text_col(F.col("text"))
    out = df.select(
        n1.alias("once"),
        dedup.normalize_text_col(n1).alias("twice"),
        dedup.normalize_text_col(F.upper(F.col("text"))).alias("upper_norm"),
    ).collect()
    for r in out:
        assert r.twice == r.once
        assert r.upper_norm == r.once
        assert "  " not in r.once and r.once == r.once.strip()


def test_chunk_documents_random_params_full_coverage(spark):
    from dataquality_cli_spark.operators import text as T
    import random

    rng = random.Random(7)
    rows = [(i, " ".join(f"w{j}" for j in range(rng.randrange(1, 120))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for chunk_tokens, overlap in [(16, 0), (16, 5), (7, 6), (50, 10)]:
        out = T.chunk_documents(df, chunk_tokens=chunk_tokens,
                                overlap=overlap).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        for i, txt in rows:
            n = len(txt.split(" "))
            chunks = sorted(by_doc[i], key=lambda r: r.chunk_start)
            covered = set()
            prev_end = -1
            for c in chunks:
                covered.update(range(c.chunk_start,
                                     c.chunk_start + c.n_chunk_tokens))
                end = c.chunk_start + c.n_chunk_tokens
                assert end > prev_end  # every chunk adds a new token
                prev_end = end
            assert covered == set(range(n)), (i, chunk_tokens, overlap)


def test_threshold_sweep_curve(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate([0.1, 0.45, 0.5, 0.62, 0.9, 0.9])],
        "doc_id long, score double")
    out = {r.threshold: r for r in
           profile.threshold_sweep(df, "score", [0.9, 0.5, 0.7]).collect()}
    assert set(out) == {0.5, 0.7, 0.9}
    assert out[0.5].n_keep == 4   # 0.5, 0.62, 0.9, 0.9
    assert out[0.7].n_keep == 2
    assert out[0.9].n_keep == 2   # >= semantics: the two 0.9s survive
    assert out[0.5].keep_rate == pytest.approx(4 / 6, abs=1e-6)
    # monotone non-increasing in the threshold
    rates = [out[t].n_keep for t in sorted(out)]
    assert rates == sorted(rates, reverse=True)
    # a threshold nothing reaches still appears, with zero keeps
    hi = {r.threshold: r.n_keep
          for r in profile.threshold_sweep(df, "score", [0.95]).collect()}
    assert hi == {0.95: 0}


def test_bpe_merges_match_pure_python_reference(spark):
    from dataquality_cli_spark.operators import bpe

    rows = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "widest widest newest low lowest lowest"),
        (3, "the newest widest lowest low"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the exact word-frequency dict the corpus implies
    wf = {}
    for _i, t in rows:
        for w in t.split(" "):
            wf[w] = wf.get(w, 0) + 1
    expected = bpe.bpe_reference(wf, n_merges=12)
    got = bpe.learn_bpe_merges(df, n_merges=12)
    assert [(m["left"], m["right"]) for m in got] == expected
    assert len(got) > 4  # non-vacuous: real merges learned
    # merged symbol is the concatenation, steps are sequential
    for i, m in enumerate(got):
        assert m["step"] == i and m["merged"] == m["left"] + m["right"]
        assert m["pair_count"] >= 2
    # pair counts are non-increasing? NOT guaranteed by BPE (a merge can
    # create a new frequent pair) — assert only positivity above.
    # early stop: a corpus with no repeated pair learns nothing
    tiny = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    assert bpe.learn_bpe_merges(tiny, n_merges=5) == []


def test_bpe_merges_df_deterministic(spark):
    from dataquality_cli_spark.operators import bpe

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    a = bpe.bpe_merges_df(docs, n_merges=6).collect()
    b = bpe.bpe_merges_df(docs.repartition(13), n_merges=6).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 6


def test_bpe_max_vocab_bounds_collect(spark):
    """VERDICT r5 #3: the driver collect is hard-bounded at max_vocab
    rows (top-N by freq desc, word asc — deterministic), and the
    learned merges under the bound equal the pure-Python reference run
    on exactly that truncated frequency table."""
    from dataquality_cli_spark.operators import bpe

    # 30 distinct words; the 4 'keep*' words dominate by frequency
    body = " ".join(f"tail{i}" for i in range(26))
    rows = [(1, "keepaa keepaa keepaa keepbb keepbb keepbb"),
            (2, "keepcc keepcc keepdd keepdd " + body),
            (3, "keepaa keepbb keepcc keepdd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wf = {}
    for _i, t in rows:
        for w in t.split(" "):
            wf[w] = wf.get(w, 0) + 1
    assert len(wf) == 30
    top10 = sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = bpe.learn_bpe_merges(df, n_merges=8, max_vocab=10)
    expected = bpe.learn_bpe_merges_from_freqs(sorted(top10), 8)
    assert [(m["left"], m["right"]) for m in got] == \
        [(m["left"], m["right"]) for m in expected]
    assert got and got == expected
    # unbounded differs (the tail words contribute pairs) — proves the
    # bound actually truncated rather than being a no-op
    full = bpe.learn_bpe_merges(df, n_merges=8)
    assert full == bpe.learn_bpe_merges_from_freqs(sorted(wf.items()), 8)


def test_bpe_fixture_oracle_matches_reference():
    """Anti-drift guard for the corpus_bpe_merges DuckDB oracle: the
    VALUES list planted in oracle_sql() must equal the pure-Python
    Sennrich reference re-run on _BPE_FIXTURE_TEXTS. If either the
    fixture or the trainer semantics change, this fails before the
    driver's correctness gate does."""
    import duckdb

    from __spark_entry__ import _BPE_FIXTURE_TEXTS, oracle_sql
    from dataquality_cli_spark.operators import bpe

    wf = {}
    for t in _BPE_FIXTURE_TEXTS:
        for w in t.split(" "):
            if w:
                wf[w] = wf.get(w, 0) + 1
    expected = bpe.learn_bpe_merges_from_freqs(sorted(wf.items()), 16)
    assert [(m["left"], m["right"]) for m in expected] == \
        bpe.bpe_reference(wf, 16)  # dict-based reference agrees
    planted = duckdb.sql(oracle_sql()["corpus_bpe_merges"]).fetchall()
    assert sorted(planted) == sorted(
        (m["step"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in expected)


def test_bpe_tokenize_roundtrip_and_training_parity(spark):
    from dataquality_cli_spark.operators import bpe

    rows = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "widest widest newest low lowest lowest"),
        (3, "the newest widest lowest low"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.learn_bpe_merges(df, n_merges=10)
    enc = {r.doc_id: r for r in bpe.bpe_tokenize(df, merges).collect()}
    for doc_id, t in rows:
        toks = enc[doc_id].bpe_tokens
        assert enc[doc_id].n_bpe_tokens == len(toks)
        # lossless: stripping end-of-word markers reconstructs the text
        rebuilt = "".join(toks).replace(bpe.EOW, " ").rstrip(" ")
        assert rebuilt == t
        # fewer tokens than characters: merges actually compress
        assert len(toks) < len(t.replace(" ", "")) + t.count(" ") + 1
    # parity with the pure-Python reference applied the same way
    wf = {}
    for _i, t in rows:
        for w in t.split(" "):
            wf[w] = wf.get(w, 0) + 1
    ref_pairs = bpe.bpe_reference(wf, n_merges=10)
    assert [(m["left"], m["right"]) for m in merges] == ref_pairs

    def ref_encode(w):
        syms = list(w) + [bpe.EOW]
        for a, b in ref_pairs:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        return syms

    for doc_id, t in rows:
        expect = [s for w in t.split(" ") if w for s in ref_encode(w)]
        assert list(enc[doc_id].bpe_tokens) == expect


def test_snapshot_diff_empty_snapshots(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")],
                                "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    gone = {r.doc_id: r.status for r in
            dedup.snapshot_diff(old, empty).collect()}
    assert gone == {1: "removed", 2: "removed"}
    born = {r.doc_id: r.status for r in
            dedup.snapshot_diff(empty, old).collect()}
    assert born == {1: "added", 2: "added"}
    assert dedup.snapshot_diff(empty, empty).count() == 0


def test_snapshot_diff_null_text(spark):
    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "now set"), (2, None), (3, "c")], "doc_id long, text string")
    out = {r.doc_id: r.status for r in dedup.snapshot_diff(old, new).collect()}
    # NULL -> value is a CHANGE (not 'added'); NULL -> NULL is unchanged
    assert out == {1: "changed"}


def test_tfidf_counts_null_text_docs_in_corpus_size(spark):
    from dataquality_cli_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "apple banana"), (2, None), (3, "apple candle")],
        "doc_id long, text string")
    out = T.tfidf_top_terms(df, top_k=2).collect()
    docs = {r.doc_id for r in out}
    assert docs == {1, 2, 3}  # NULL-text doc present (as the '' term)
    # idf uses N=3: apple appears in 2 docs -> idf = ln(4/3)+1
    import math
    apple = [r for r in out if r.term == "apple"][0]
    assert apple.doc_freq == 2
    assert apple.tfidf == pytest.approx(round(math.log(4 / 3) + 1, 6))


def test_bpe_random_corpora_parity(spark):
    """Distributed BPE == pure-Python reference over randomized corpora
    (seeded): words with shared prefixes/suffixes force nontrivial merge
    interactions, repeated applications force within-word re-merging."""
    import random

    from dataquality_cli_spark.operators import bpe

    for seed in (11, 23, 37):
        rng = random.Random(seed)
        vocab = ["ab", "abc", "abcd", "xyab", "ccab", "aaaa", "aaab",
                 "ba", "bab", "abab", "ababab"]
        rows = [(i, " ".join(rng.choices(vocab, k=rng.randrange(3, 20))))
                for i in range(25)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        wf = {}
        for _i, t in rows:
            for w in t.split(" "):
                wf[w] = wf.get(w, 0) + 1
        expected = bpe.bpe_reference(wf, n_merges=15)
        got = bpe.learn_bpe_merges(df, n_merges=15)
        assert [(m["left"], m["right"]) for m in got] == expected, seed


def test_bpe_incremental_learner_deep_merge_parity():
    """The driver-side incremental learner == the naive full-recount
    reference at REALISTIC merge depth (256 merges over a synthetic
    Zipf-ish vocabulary) — no Spark needed: this pins the incremental
    pair-count/inverted-index bookkeeping itself, including stale-index
    entries, a==b self-pairs and merge-created pairs, at a depth the
    corpus-level tests can't reach cheaply."""
    import random

    from dataquality_cli_spark.operators import bpe

    rng = random.Random(97)
    alpha = "abcdef"
    wf = {}
    for _ in range(800):
        w = "".join(rng.choices(alpha, k=rng.randrange(1, 12)))
        # Zipf-ish: small skewed frequencies
        wf[w] = wf.get(w, 0) + rng.choice([1, 1, 1, 2, 3, 8, 40])
    expected = bpe.bpe_reference(wf, n_merges=256, min_pair_count=2)
    got = bpe.learn_bpe_merges_from_freqs(
        sorted(wf.items()), n_merges=256, min_pair_count=2)
    assert [(m["left"], m["right"]) for m in got] == expected
    assert len(got) > 100  # non-vacuous depth
    # pair_count bookkeeping sanity: replay the merges naively and
    # recount — no surviving pair may sort ahead of the last merge
    vocab = {tuple(list(w) + [bpe.EOW]): f for w, f in wf.items()}
    for m in got:
        nv = {}
        for s, f in vocab.items():
            t = tuple(bpe._merge_word(list(s), m["left"], m["right"]))
            nv[t] = nv.get(t, 0) + f
        vocab = nv
    counts = {}
    for s, f in vocab.items():
        for p in zip(s, s[1:]):
            counts[p] = counts.get(p, 0) + f
    # every recorded pair_count matched the recount at its own step —
    # already covered by ==expected; here just sanity: final state has
    # no pair with count >= the last merge's count that sorts earlier
    last = got[-1]
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    assert (-best[1], best[0]) >= (-last["pair_count"],
                                   (last["left"], last["right"]))


def test_token_ngram_contamination_window_semantics(spark):
    from dataquality_cli_spark.operators import text as T

    eval_text = " ".join(f"e{i}" for i in range(20))
    eval_df = spark.createDataFrame([(100, eval_text)],
                                    "doc_id long, text string")
    toks = eval_text.split(" ")
    docs = spark.createDataFrame([
        # contains a full 13-token window of the eval doc -> flagged
        (1, "x y " + " ".join(toks[3:16]) + " z"),
        # only 12 consecutive eval tokens -> clean
        (2, "x y " + " ".join(toks[3:15]) + " z"),
        # same tokens but scrambled (no contiguous window) -> clean
        (3, " ".join(reversed(toks))),
        # short doc (< 13 tokens) -> clean by definition
        (4, " ".join(toks[:5])),
    ], "doc_id long, text string")
    out = {r.doc_id: r.n_hits for r in
           T.token_ngram_contamination(docs, eval_df).collect()}
    assert set(out) == {1}
    assert out[1] == 1  # exactly one shared 13-gram window


def _planted_emb_clusters(spark, n_per=40, k=4, dim=16, seed=13,
                          jitter=0.05):
    """Well-separated synthetic clusters: k orthant corners +- jitter."""
    import random

    rng = random.Random(seed)
    rows = []
    centers = []
    for c in range(k):
        center = [(4.0 if (c >> (d % 4)) & 1 else -4.0) + c
                  for d in range(dim)]
        centers.append(center)
        for i in range(n_per):
            vec = [v + rng.uniform(-jitter, jitter) for v in center]
            rows.append((c * 1000 + i, vec, c))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    return df, centers


def test_kmeans_fit_recovers_planted_clusters(spark):
    import numpy as np

    df, centers = _planted_emb_clusters(spark)
    cent = similarity.kmeans_fit(df, k=4, n_iter=5)
    assigned = similarity.kmeans_assign(df, cent)
    # every planted label maps to exactly one cell and vice versa
    m = assigned.groupBy("label").agg(
        F.countDistinct("cell").alias("cells"),
        F.count(F.lit(1)).alias("n")).collect()
    assert all(r.cells == 1 and r.n == 40 for r in m)
    assert assigned.select("cell").distinct().count() == 4
    # refit on a different partitioning: same centroids to float noise
    cent2 = similarity.kmeans_fit(df.repartition(13), k=4, n_iter=5)
    assert np.allclose(np.sort(cent, axis=0), np.sort(cent2, axis=0),
                       atol=1e-9)
    # recovered centroids sit at the planted centers (within jitter)
    got = np.sort(cent[:, 0])
    want = np.sort(np.array(centers, dtype=float)[:, 0])
    assert np.allclose(got, want, atol=0.1)


def test_semantic_dedup_keeps_far_from_centroid(spark):
    """SemDeDup keep rule: of a planted near-duplicate pair the member
    FARTHER from its cluster centroid survives; non-duplicate cluster
    members are never dropped."""
    import numpy as np

    # wide jitter: member-member cosine ~0.98, well under the threshold
    df, _ = _planted_emb_clusters(spark, n_per=20, k=2, dim=16,
                                  jitter=1.0)
    cent = similarity.kmeans_fit(df, k=2, n_iter=4)
    # plant the pair: v1 = a fixed off-center direction; v2 = v1 mixed
    # 2% toward ITS cell's centroid -> cos(v1,v2) ~ 0.9998 (> thresh)
    # and v2 strictly CLOSER to the centroid -> v2 must be dropped
    v1 = np.array([5.0] * 8 + [-5.0] * 8)
    cell1 = int((cent @ v1 - 0.5 * (cent * cent).sum(1)).argmax())
    c_hat = cent[cell1] / np.linalg.norm(cent[cell1])
    v2 = 0.98 * v1 + 0.02 * np.linalg.norm(v1) * c_hat
    extra = spark.createDataFrame(
        [(9001, [float(x) for x in v1], 0),
         (9002, [float(x) for x in v2], 0)],
        "vec_id long, embedding array<float>, label int")
    full = df.unionByName(extra)
    kept = similarity.semantic_dedup(full, cent, threshold=0.999)
    ids = {r.vec_id for r in kept.collect()}
    assert 9001 in ids and 9002 not in ids  # far-from-centroid survives
    assert len(ids) == full.count() - 1     # nothing else dropped
    # metrics + cap path: max_cell_size below every cell size disables
    # pairing entirely -> nothing dropped, both cells counted oversized
    m = {}
    kept_capped = similarity.semantic_dedup(
        full, cent, threshold=0.999, max_cell_size=5, metrics_out=m)
    assert kept_capped.count() == full.count()
    assert m["n_dropped"] == 0 and m.get("dropped_buckets", 0) == 2


def test_code_line_profile_semantics(spark):
    """Comment / indent / identifier semantics on planted source text
    (the prose fixture exercises only the identifier columns)."""
    from dataquality_cli_spark.operators.text import code_line_profile

    code = (
        "#!/usr/bin/env python\n"          # '#' comment
        "# setup\n"                         # '#' comment
        "def very_long_identifier_name(x):\n"
        "    # indented comment\n"          # space indent + comment
        "\treturn x  // not a py comment\n"  # tab indent, '//' mid-line
        "// a c-style comment line\n"       # '//' comment
        "value = 12\n"
    )
    df = spark.createDataFrame([(1, code), (2, "no newline here")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in code_line_profile(df).collect()}
    r = out[1]
    assert r.n_lines == 8  # trailing \n yields a final empty line
    assert r.comment_lines == 4  # two '#', one indented '#', one '//'
    assert r.indent_tab_lines == 1
    assert r.indent_space_lines == 1
    assert r.max_identifier_len == len("very_long_identifier_name")
    assert r.comment_ratio == round(4 / 8, 4)
    r2 = out[2]
    assert r2.n_lines == 1 and r2.comment_lines == 0
    assert r2.n_identifiers == 3  # no, newline, here


def test_pca_fit_matches_numpy_and_is_partition_invariant(spark, emb):
    """Distributed one-pass covariance PCA == numpy PCA on the collected
    table (components to sign-fixed allclose, variances descending),
    invariant to partition layout; projection reproduces the centered
    matmul."""
    import numpy as np

    x = np.array([r.embedding for r in
                  emb.select("embedding").orderBy("vec_id").collect()],
                 dtype=np.float64)
    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:6]
    exp_comps = v[:, order].T.copy()
    for c in exp_comps:
        if c[np.abs(c).argmax()] < 0:
            c *= -1.0

    m = similarity.pca_fit(emb, k=6)
    assert m["n"] == x.shape[0]
    assert np.allclose(m["mean"], mu, atol=1e-9)
    assert np.allclose(m["explained_variance"], w[order], atol=1e-9)
    assert np.allclose(m["components"], exp_comps, atol=1e-6)
    ev = m["explained_variance"]
    assert all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))
    # orthonormal components
    g = m["components"] @ m["components"].T
    assert np.allclose(g, np.eye(6), atol=1e-9)
    # partition invariance (float-noise tolerance)
    m2 = similarity.pca_fit(emb.repartition(17), k=6)
    assert np.allclose(m["components"], m2["components"], atol=1e-8)
    # transform: centered matmul, length-k output
    proj = {r.vec_id: r.projection for r in
            similarity.pca_transform(emb, m).select(
                "vec_id", "projection").collect()}
    ids = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").collect()]
    want = (x - mu) @ m["components"].T
    got = np.array([proj[i] for i in ids])
    assert got.shape == (x.shape[0], 6)
    assert np.allclose(got, want, atol=1e-9)


def test_bpe_incremental_learner_hypothesis_parity():
    """Property check: the incremental pair-count learner equals the
    naive full-recount reference for ARBITRARY word-frequency tables
    (hypothesis-generated; pure Python — no Spark in the loop)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataquality_cli_spark.operators import bpe

    word = st.text(alphabet="abc", min_size=1, max_size=8)
    wf_strategy = st.dictionaries(word, st.integers(1, 9),
                                  min_size=1, max_size=30)

    @settings(max_examples=60, deadline=None)
    @given(wf=wf_strategy, n_merges=st.integers(1, 40),
           min_pair=st.integers(1, 3))
    def check(wf, n_merges, min_pair):
        expected = bpe.bpe_reference(wf, n_merges, min_pair_count=min_pair)
        got = bpe.learn_bpe_merges_from_freqs(
            sorted(wf.items()), n_merges, min_pair_count=min_pair)
        assert [(m["left"], m["right"]) for m in got] == expected

    check()


def test_hash_embedding_properties(spark):
    """Unit norm, order-invariance, zero vector for empty docs,
    determinism across partitionings."""
    import numpy as np

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "epsilon delta gamma beta alpha"),   # same bag, new order
        (3, "totally different words entirely here"),
        (4, ""),                                  # empty -> zero vector
        (5, "   "),                               # whitespace-only too
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    e = {r.doc_id: np.array(r.embedding) for r in
         similarity.hash_embedding(df, dim=32).collect()}
    assert len(e) == 5
    assert np.allclose(np.linalg.norm(e[1]), 1.0, atol=1e-6)
    assert np.allclose(e[1], e[2], atol=1e-6)     # order-invariant
    assert np.linalg.norm(e[1] - e[3]) > 0.5      # different content
    assert np.allclose(e[4], 0) and np.allclose(e[5], 0)
    e2 = {r.doc_id: np.array(r.embedding) for r in
          similarity.hash_embedding(df.repartition(7), dim=32).collect()}
    for k in e:
        assert np.allclose(e[k], e2[k], atol=1e-6), k


def test_semantic_dedup_text_catches_reordered_duplicate(spark):
    """The order-invariant path: a sentence-shuffled duplicate is
    dropped (same token bag -> cosine 1.0) while distinct docs and the
    empty doc survive; the survivor of the pair is the better-priority
    member."""
    import random

    rng = random.Random(67)
    docs = [(i, " ".join(f"w{rng.randrange(10**6)}" for _ in range(40)))
            for i in range(30)]
    toks = docs[0][1].split()
    rng.shuffle(toks)
    reordered = (500, " ".join(toks))  # same bag as doc 0, new order
    df = spark.createDataFrame(docs + [reordered, (600, "")],
                               "doc_id long, text string")
    m = {}
    kept = similarity.semantic_dedup_text(
        df, threshold=0.999, k=4, metrics_out=m)
    ids = {r.doc_id for r in kept.collect()}
    # exactly one of the reordered pair survives
    assert (0 in ids) ^ (500 in ids)
    assert m["n_dropped"] == 1
    assert 600 in ids                      # empty doc never a candidate
    assert len(ids) == 31                  # everything else untouched
    # all original columns come back
    assert set(kept.columns) == {"doc_id", "text"}


def test_semantic_dedup_text_pca_composition(spark):
    """pca_dim wires the one-pass PCA between hash embedding and
    clustering: at high retained variance the dedup result is STABLE
    under projection (identical kept set — the planted reordered pair
    has identical embeddings, hence identical projections), and
    metrics report the explained-variance fraction."""
    import random

    rng = random.Random(68)
    docs = [(i, " ".join(f"w{rng.randrange(10**6)}" for _ in range(40)))
            for i in range(30)]
    toks = docs[0][1].split()
    rng.shuffle(toks)
    reordered = (500, " ".join(toks))
    df = spark.createDataFrame(docs + [reordered],
                               "doc_id long, text string")
    m_plain, m_pca = {}, {}
    kept_plain = {r.doc_id for r in similarity.semantic_dedup_text(
        df, threshold=0.999, k=4, metrics_out=m_plain).collect()}
    kept_pca = {r.doc_id for r in similarity.semantic_dedup_text(
        df, threshold=0.999, k=4, pca_dim=32,
        metrics_out=m_pca).collect()}
    assert kept_pca == kept_plain
    assert m_pca["n_dropped"] == 1 == m_plain["n_dropped"]
    assert 0.0 < m_pca["pca_explained_fraction"] <= 1.0 + 1e-9
    assert "pca_explained_fraction" not in m_plain
    # pca_dim >= dim is a no-op passthrough (no projection column)
    kept_noop = {r.doc_id for r in similarity.semantic_dedup_text(
        df, threshold=0.999, k=4, pca_dim=64).collect()}
    assert kept_noop == kept_plain


def test_bloom_screen_no_false_negatives_and_fpp(spark):
    """Bloom membership screen: every corpus member tests
    maybe-duplicate (zero false negatives — the Bloom guarantee), fresh
    keys false-positive near the tuned rate, the built bitmap is
    bit-identical at any partitioning, and NULL keys test False."""
    import numpy as np

    from dataquality_cli_spark.operators import bloom

    corpus = spark.range(2000).selectExpr(
        "concat('sha_', cast(id as string)) AS content_hash")
    model = bloom.build_bloom(corpus, "content_hash", fpp=0.01)
    assert model["n_items"] == 2000
    m2 = bloom.build_bloom(corpus.repartition(17), "content_hash",
                           fpp=0.01)
    assert np.array_equal(model["bits"], m2["bits"])  # bit-identical

    # no false negatives: all members flagged maybe
    members = bloom.might_contain_col(corpus, model, "content_hash")
    assert members.filter("NOT maybe_member").count() == 0

    # fpp on 10k fresh keys stays near 1% (generous 3x bound)
    fresh = spark.range(100_000, 110_000).selectExpr(
        "concat('new_', cast(id as string)) AS content_hash")
    maybe, definitely_new = bloom.bloom_screen(fresh, model,
                                               "content_hash")
    n_fp = maybe.count()
    assert n_fp + definitely_new.count() == 10_000
    assert n_fp < 300, n_fp
    # NULL keys are not members
    nulls = spark.sql("SELECT CAST(NULL AS STRING) AS content_hash")
    assert bloom.might_contain_col(nulls, model, "content_hash") \
        .filter("maybe_member").count() == 0
    # empty corpus: everything is definitely new
    empty = bloom.build_bloom(corpus.limit(0), "content_hash")
    assert bloom.might_contain_col(fresh, empty, "content_hash") \
        .filter("maybe_member").count() == 0
    # caller-supplied n_items=0 on a non-empty corpus must raise, not
    # silently build a filter with guaranteed false negatives
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_items"):
        bloom.build_bloom(corpus, "content_hash", n_items=0)
    # repeated screens reuse ONE cached broadcast (keyed by context —
    # a model carried across a session restart must rebroadcast)
    bloom.might_contain_col(corpus, model, "content_hash").count()
    sc1, bc1 = model["_bc"]
    assert sc1 is spark.sparkContext
    bloom.might_contain_col(corpus, model, "content_hash").count()
    assert model["_bc"][1] is bc1
    # simulate a stale-context cache entry: must be replaced, not reused
    model["_bc"] = (object(), bc1)
    bloom.might_contain_col(corpus, model, "content_hash").count()
    assert model["_bc"][0] is spark.sparkContext
    assert model["_bc"][1] is not bc1


def test_bloom_save_load_roundtrip(spark, tmp_path):
    import numpy as np

    from dataquality_cli_spark.operators import bloom

    corpus = spark.range(500).selectExpr(
        "concat('h', cast(id as string)) AS content_hash")
    model = bloom.build_bloom(corpus, "content_hash", fpp=0.02)
    path = str(tmp_path / "bloom")
    bloom.save_bloom(spark, model, path)
    back = bloom.load_bloom(spark, path)
    assert np.array_equal(back["bits"], model["bits"])
    assert (back["m"], back["k"], back["n_items"]) == \
        (model["m"], model["k"], model["n_items"])
    # the loaded artifact screens identically
    a = bloom.might_contain_col(corpus, model, "content_hash").collect()
    b = bloom.might_contain_col(corpus, back, "content_hash").collect()
    assert [r.maybe_member for r in a] == [r.maybe_member for r in b]


def test_bloom_sharded_guarantees(spark):
    """Sharded composition (the 10^12-key deployment): no false
    negatives across shards, fpp near the tuned rate, bit-identical at
    any input partitioning, NULL keys False, degenerate inputs clean."""
    import numpy as np
    import pytest as _pytest

    from dataquality_cli_spark.operators import bloom

    corpus = spark.range(2000).selectExpr(
        "concat('sha_', cast(id as string)) AS content_hash")
    model = bloom.build_bloom_sharded(corpus, "content_hash",
                                      n_shards=4, fpp=0.01)
    assert model["n_shards"] == 4 and model["bits"].shape[0] == 4
    assert model["n_items"] == 2000
    # hash routing balances shards: every shard got a real bitmap
    assert all(model["bits"][s].any() for s in range(4))
    # partitioning invariance, bit for bit
    m2 = bloom.build_bloom_sharded(corpus.repartition(17),
                                   "content_hash", n_shards=4, fpp=0.01)
    assert np.array_equal(model["bits"], m2["bits"])
    # no false negatives: every member maybe-duplicate
    members = bloom.might_contain_col(corpus, model, "content_hash")
    assert members.filter("NOT maybe_member").count() == 0
    # fpp on 10k fresh keys near 1% (generous 3x bound)
    fresh = spark.range(100_000, 110_000).selectExpr(
        "concat('new_', cast(id as string)) AS content_hash")
    maybe, definitely_new = bloom.bloom_screen(fresh, model,
                                               "content_hash")
    n_fp = maybe.count()
    assert n_fp + definitely_new.count() == 10_000
    assert n_fp < 300, n_fp
    # NULL keys are not members
    nulls = spark.sql("SELECT CAST(NULL AS STRING) AS content_hash")
    assert bloom.might_contain_col(nulls, model, "content_hash") \
        .filter("maybe_member").count() == 0
    # empty corpus / bad args
    empty = bloom.build_bloom_sharded(corpus.limit(0), "content_hash",
                                      n_shards=4)
    assert bloom.might_contain_col(fresh, empty, "content_hash") \
        .filter("maybe_member").count() == 0
    with _pytest.raises(ValueError, match="n_items"):
        bloom.build_bloom_sharded(corpus, "content_hash", n_items=0)
    with _pytest.raises(ValueError, match="n_shards"):
        bloom.build_bloom_sharded(corpus, "content_hash", n_shards=0)
    # n_shards=1 degenerates to one shard with the flat sizing
    one = bloom.build_bloom_sharded(corpus, "content_hash", n_shards=1)
    flat = bloom.build_bloom(corpus, "content_hash")
    assert (one["m"], one["k"]) == (flat["m"], flat["k"])
    assert bloom.might_contain_col(corpus, one, "content_hash") \
        .filter("NOT maybe_member").count() == 0


def test_bloom_sharded_save_load_roundtrip(spark, tmp_path):
    import numpy as np

    from dataquality_cli_spark.operators import bloom

    corpus = spark.range(800).selectExpr(
        "concat('h', cast(id as string)) AS content_hash")
    model = bloom.build_bloom_sharded(corpus, "content_hash",
                                      n_shards=3, fpp=0.02)
    path = str(tmp_path / "bloom_sharded")
    bloom.save_bloom(spark, model, path)
    back = bloom.load_bloom(spark, path)
    assert back["n_shards"] == 3
    assert np.array_equal(back["bits"], model["bits"])
    assert (back["m"], back["k"], back["n_items"]) == \
        (model["m"], model["k"], model["n_items"])
    fresh = spark.range(5000, 6000).selectExpr(
        "concat('x', cast(id as string)) AS content_hash")
    probe = corpus.union(fresh)
    a = bloom.might_contain_col(probe, model, "content_hash").collect()
    b = bloom.might_contain_col(probe, back, "content_hash").collect()
    assert [r.maybe_member for r in a] == [r.maybe_member for r in b]


def test_license_guess_precedence_and_families(spark):
    """SPDX tag wins over header phrases; each header family matches
    its canonical sentence; unmarked files report 'none'."""
    from dataquality_cli_spark.operators import text as T

    rows = [
        (1, "# SPDX-License-Identifier: Apache-2.0\nPermission is "
            "hereby granted, free of charge"),          # SPDX beats MIT
        (2, "Permission is hereby granted, free of charge, to any"),
        (3, "licensed under the Apache License Version 2.0"),
        (4, "This is covered by the GNU GENERAL PUBLIC LICENSE v3"),
        (5, "Redistribution and use in source and binary forms"),
        (6, "Mozilla Public License, v. 2.0 terms apply"),
        (7, "def main():\n    return 0"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.spdx_id, r.license_guess)
           for r in T.license_guess(df).collect()}
    assert got[1] == ("apache-2.0", "apache-2.0")
    assert got[2] == ("", "mit")
    assert got[3] == ("", "apache-2.0")
    assert got[4] == ("", "gpl")
    assert got[5] == ("", "bsd")
    assert got[6] == ("", "mpl-2.0")
    assert got[7] == ("", "none")


def test_entropy_signals_flags_random_keys(spark):
    """A random base64-ish key exceeds the 4-bit gate; a repeated-char
    divider scores 0; short/ineligible tokens are not candidates; the
    known-entropy token matches the closed form."""
    import math

    from dataquality_cli_spark.operators import text as T

    rows = [
        (1, "aws_secret = dGhpc0lzQVJhbmRvbUtleTAxMjM0NTY3ODlBQkNERUZH ok"),
        (2, "banner ======================== short toks only here"),
        (3, "ruler ---------------------------------------- end"),
        (4, "ABABABABABABABABABAB has exactly one bit per char"),
        (5, "no eligible tokens at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in T.entropy_signals(df).collect()}
    assert got[1].n_candidates == 1 and got[1].n_high_entropy == 1
    assert got[1].max_entropy > 4.0
    assert got[2].n_candidates == 1      # 24 '=' signs qualify
    assert got[2].max_entropy == 0.0 and got[2].n_high_entropy == 0
    assert got[3].max_entropy == 0.0
    # 20-char 2-symbol alternation: exactly 1.0 bit/char
    assert abs(got[4].max_entropy - 1.0) < 1e-9
    assert got[5].n_candidates == 0 and got[5].max_entropy == 0.0
    assert math.isclose(got[4].max_entropy, 1.0)


def test_extract_functions_boundaries(spark):
    """Unit boundary semantics: preamble before the first header is
    dropped, a unit runs through the line BEFORE the next header
    (trailing blanks belong to the preceding unit), receiver-style Go
    headers yield an empty fn_name, and extraction is a pure
    projection — no Exchange in the plan."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "preamble\ndef a(x):\n    body\n\ndef b(y):\n    tail\n"),
         (2, "no headers at all\njust lines"),
         (3, "func (r *T) Method() {\n\treturn\n}"),
         (4, "def a(x):\n    body\n")],
        "doc_id long, text string")
    units = T.extract_functions(docs)
    got = {(r.doc_id, r.fn_idx): r for r in units.collect()}
    assert set(got) == {(1, 0), (1, 1), (3, 0), (4, 0)}
    # doc 1 unit 0: header + body + blank (trailing blank attaches)
    assert got[(1, 0)].fn_text == "def a(x):\n    body\n"
    assert got[(1, 0)].fn_n_lines == 3 and got[(1, 0)].fn_name == "a"
    # doc 1 unit 1: runs to EOF, final '' from the trailing newline
    assert got[(1, 1)].fn_text == "def b(y):\n    tail\n"
    assert got[(1, 1)].fn_name == "b"
    # receiver func: header matches, name capture is empty
    assert got[(3, 0)].fn_name == ""
    # byte-identical planted copy across docs 1 and 4
    assert got[(4, 0)].fn_text == got[(1, 0)].fn_text
    plan = units._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    groups = T.function_dup_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert (g.n_copies, g.n_docs, g.first_doc, g.fn_name) == (2, 2, 1, "a")


def test_pq_train_encode_topk(spark):
    """Product quantization: (1) pq_encode matches a numpy reference
    encoding bit-for-bit, (2) doubling the codebook size does not
    worsen reconstruction error, (3) ADC top-k recovers the true L2
    neighborhood on clustered data (recall@5 >= 0.8 — planted
    clusters, not a vacuous floor), (4) serving from a pre-encoded
    frame equals on-the-fly encoding."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16) * 10.0
    vecs = np.concatenate(
        [centers[c] + rng.randn(30, 16) * 0.5 for c in range(4)])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>").repartition(4)

    books = similarity.pq_train(df, m=4, k=4, n_iter=3)
    assert books.shape == (4, 4, 4)

    enc = {r.vec_id: r.pq_codes
           for r in similarity.pq_encode(df, books).collect()}
    xs = vecs.reshape(len(vecs), 4, 4)
    for i in (0, 17, 55, 119):
        ref = [int(((books[j] - xs[i, j]) ** 2).sum(axis=1).argmin())
               for j in range(4)]
        assert enc[i] == ref, (i, enc[i], ref)

    def recon_mse(bk):
        e = {r.vec_id: r.pq_codes
             for r in similarity.pq_encode(df, bk).collect()}
        dec = np.stack([
            np.concatenate([bk[j, e[i][j]] for j in range(bk.shape[0])])
            for i in range(len(vecs))])
        return float(((dec - vecs) ** 2).mean())

    books8 = similarity.pq_train(df, m=4, k=8, n_iter=3)
    assert recon_mse(books8) <= recon_mse(books) + 1e-12

    queries = df.filter(F.col("vec_id") < 3)
    got = similarity.pq_topk(df, queries, books, k=5)
    by_q: dict = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    # coarse books (k=4) collapse within-cluster distances — the whole
    # cluster ties and ids break the tie — but must still place every
    # neighbor in the query's planted cluster
    assert all(n // 30 == qid // 30
               for qid, ns in by_q.items() for n in ns), by_q
    # finer books resolve ranking within the cluster: recall@5 vs the
    # exact L2 neighborhood (deterministic 11/15 at m=8,k=32)
    books32 = similarity.pq_train(df, m=8, k=32, n_iter=4)
    fine = similarity.pq_topk(df, queries, books32, k=5)
    by_qf: dict = {}
    for r in fine.collect():
        by_qf.setdefault(r.query_id, []).append(r.neighbor_id)
    d2 = ((vecs[None, :, :] - vecs[:, None, :]) ** 2).sum(axis=2)
    hits = total = 0
    for qid in (0, 1, 2):
        order = np.lexsort((np.arange(len(vecs)), d2[qid]))
        true5 = [int(i) for i in order if i != qid][:5]
        hits += len(set(true5) & set(by_qf[qid]))
        total += 5
    assert hits / total >= 0.7, (hits, total, by_qf)

    pre = similarity.pq_encode(df, books)
    served = similarity.pq_topk(pre, queries, books, k=5,
                                codes_col="pq_codes")
    assert sorted((r.query_id, r.rank, r.neighbor_id)
                  for r in served.collect()) == \
           sorted((r.query_id, r.rank, r.neighbor_id)
                  for r in got.collect())


def test_ivfpq_residual_encode_and_serve(spark):
    """IVF-PQ: (1) residual codebooks beat raw-vector PQ
    reconstruction at the same (m, k) budget on clustered data, (2)
    ivfpq_encode's coarse cells agree with kmeans_assign, (3) ADC
    serving with all cells probed recovers the planted cluster, and
    nprobe=1 only returns candidates from probed cells."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.randn(4, 16) * 10.0
    vecs = np.concatenate(
        [centers[c] + rng.randn(30, 16) * 0.5 for c in range(4)])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>").repartition(4)

    cent = similarity.kmeans_fit(df, k=4, n_iter=4)
    books = similarity.ivfpq_train(df, cent, m=4, k=4, n_iter=3)
    assert books.shape == (4, 4, 4)

    enc = {r.vec_id: (r.cell, r.pq_codes)
           for r in similarity.ivfpq_encode(df, cent, books).collect()}
    cells_ref = {r.vec_id: r.cell
                 for r in similarity.kmeans_assign(df, cent).collect()}
    assert all(enc[i][0] == cells_ref[i] for i in enc)

    # residual quantization error < raw-vector PQ at the same budget
    raw_books = similarity.pq_train(df, m=4, k=4, n_iter=3)
    raw_enc = {r.vec_id: r.pq_codes
               for r in similarity.pq_encode(df, raw_books).collect()}

    def mse(decode):
        return float(np.mean([((decode(i) - vecs[i]) ** 2).mean()
                              for i in range(len(vecs))]))

    res_mse = mse(lambda i: cent[enc[i][0]] + np.concatenate(
        [books[j, enc[i][1][j]] for j in range(4)]))
    raw_mse = mse(lambda i: np.concatenate(
        [raw_books[j, raw_enc[i][j]] for j in range(4)]))
    assert res_mse < raw_mse, (res_mse, raw_mse)

    queries = df.filter(F.col("vec_id") < 3)
    got = similarity.ann_ivfpq_topk(df, queries, cent, books,
                                    k=5, nprobe=4)
    by_q: dict = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert set(by_q) == {0, 1, 2}
    assert all(len(ns) == 5 for ns in by_q.values())
    assert all(n // 30 == qid // 30
               for qid, ns in by_q.items() for n in ns), by_q

    # nprobe=1: every candidate comes from the query's own best cell
    got1 = similarity.ann_ivfpq_topk(df, queries, cent, books,
                                     k=5, nprobe=1)
    for r in got1.collect():
        qcell = cells_ref[r.query_id]
        assert cells_ref[r.neighbor_id] == qcell, r


def test_ivfpq_index_roundtrip(spark, tmp_path):
    """Persisted IVF-PQ index: save -> load -> serve equals the direct
    path exactly; half-build + incremental add equals the full build;
    a retried add is a noop (dynamic overwrite)."""
    import numpy as np

    rng = np.random.RandomState(13)
    centers = rng.randn(3, 16) * 8.0
    vecs = np.concatenate(
        [centers[c] + rng.randn(20, 16) * 0.5 for c in range(3)])
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(3)
    cent = similarity.kmeans_fit(df, k=3, n_iter=3)
    books = similarity.ivfpq_train(df, cent, m=4, k=4, n_iter=2)
    queries = df.filter(F.col("vec_id") % 20 == 0)

    def key(out):
        return sorted((r.query_id, r.rank, r.neighbor_id, r.adist)
                      for r in out.collect())

    direct = key(similarity.ann_ivfpq_topk(df, queries, cent, books,
                                           k=4, nprobe=3))

    full = str(tmp_path / "full")
    similarity.save_ivfpq_index(df, cent, books, full)
    c2, b2, lists = similarity.load_ivfpq_index(spark, full)
    assert np.allclose(c2, cent) and np.allclose(b2, books)
    served_df = similarity.ann_ivfpq_topk_indexed(
        lists, queries, c2, b2, k=4, nprobe=3)
    served = key(served_df)
    assert served == direct
    # the driver-known probed cells prune the list scan STATICALLY
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan and " IN " in plan, plan

    half = str(tmp_path / "half")
    first = df.filter(F.col("vec_id") < 30)
    rest = df.filter(F.col("vec_id") >= 30)
    similarity.save_ivfpq_index(first, cent, books, half)
    similarity.ivfpq_index_add(spark, half, rest, batch_id="b1")
    # retried add: same batch re-lands on its own partitions
    similarity.ivfpq_index_add(spark, half, rest, batch_id="b1")
    _, _, lists_h = similarity.load_ivfpq_index(spark, half)
    assert lists_h.count() == len(vecs)
    incr = key(similarity.ann_ivfpq_topk_indexed(
        lists_h, queries, cent, books, k=4, nprobe=3))
    assert incr == direct

    import pytest as _pytest
    with _pytest.raises(ValueError):
        similarity.ivfpq_index_add(spark, half, rest, batch_id="base")


def test_pq_assign_col_parity(spark):
    """The pure-expression encoder (pq_assign_col, the codegen /
    exact-oracle path) matches the Arrow encoder (pq_encode) code for
    code on tie-free data, and breaks exact-distance ties to the
    lower code id."""
    import numpy as np

    rng = np.random.RandomState(17)
    vecs = rng.randn(80, 8)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    books = rng.randn(2, 3, 4)

    via_expr = {r.vec_id: r.c for r in df.select(
        "vec_id",
        similarity.pq_assign_col(F.col("embedding"), books).alias("c")
    ).collect()}
    via_arrow = {r.vec_id: r.pq_codes
                 for r in similarity.pq_encode(df, books).collect()}
    assert via_expr == via_arrow

    # duplicate codewords => exact tie => lower code id wins
    tie_books = np.stack([np.stack([np.ones(4), np.ones(4),
                                    np.zeros(4)])] * 2)
    got = df.limit(1).select(
        similarity.pq_assign_col(
            F.array(*[F.lit(1.0)] * 8), tie_books).alias("c")
    ).collect()[0].c
    assert got == [0, 0]


def test_extract_imports_kinds_and_graph(spark):
    """Per-kind extraction semantics: all five language patterns fire,
    within-doc repeats are kept (n_refs signal), the documented
    polyglot overlap is deterministic (a JS default-ESM line also
    matches the py_import shape), go/py shapes do NOT cross-fire
    (quote vs identifier first char), and extraction is a pure
    projection — no Exchange before the aggregate."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "import os\nimport os\nfrom collections import OrderedDict\n"
             "import os.path\n"),
         (2, "const fs = require('fs');\nconst p = require('path');\n"
             "import lodash from 'lodash'\nimport { x } from './util'\n"),
         (3, "package main\n\nimport \"fmt\"\nimport \"strings\"\n"),
         (4, "plain prose, no imports\n"),
         (5, "import os\n"),
         (6, "import java.util.List;\nuse std::collections::HashMap\n"
             "#include <stdio.h>\n#include \"local.h\"\n")],
        "doc_id long, text string")
    edges = T.extract_imports(docs)
    got = [(r.doc_id, r.kind, r.module) for r in edges.collect()]
    # within-doc repeat kept; dotted module captured whole
    assert got.count((1, "py_import", "os")) == 2
    assert (1, "py_import", "os.path") in got
    assert (1, "py_from", "collections") in got
    # js: both require() calls and both ESM forms
    assert (2, "js_require", "fs") in got and (2, "js_require", "path") in got
    assert (2, "js_esm", "lodash") in got and (2, "js_esm", "./util") in got
    # documented overlap: default-ESM line also matches py_import
    assert (2, "py_import", "lodash") in got
    # braced ESM does NOT match py_import ('{' fails the ident class)
    assert (2, "py_import", "{") not in got
    # go: quoted module; quote char keeps py_import from firing
    assert (3, "go_import", "fmt") in got and (3, "go_import", "strings") in got
    assert not any(d == 3 and k == "py_import" for d, k, _ in got)
    assert not any(d == 4 for d, _, _ in got)
    # java requires the semicolon; the same line also fires py_import
    # (documented overlap) with the capture stopping before ';'
    assert (6, "java_import", "java.util.List") in got
    assert (6, "py_import", "java.util.List") in got
    assert (6, "rust_use", "std::collections::HashMap") in got
    # angle and quote include forms both captured, without delimiters
    assert (6, "c_include", "stdio.h") in got
    assert (6, "c_include", "local.h") in got
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    graph = {(r.kind, r.module): r for r in T.import_graph(docs).collect()}
    # os: docs 1 (x2) and 5 -> 2 docs, 3 refs
    assert (graph[("py_import", "os")].n_docs,
            graph[("py_import", "os")].n_refs) == (2, 3)
    assert graph[("go_import", "fmt")].n_docs == 1


def test_identifier_vocab_split_semantics(spark):
    """Camel/acronym/underscore splitting: parseHTTPResponse ->
    [parse, http, response], snake_case -> parts, dunder/underscore-
    only identifiers contribute no empty tokens; vocab counts
    aggregate refs vs docs; top-N tie-break is (n_refs DESC, token)."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "parseHTTPResponse parseHTTPResponse snake_case"),
         (2, "HTTPResponse ___ __init__ A1b"),
         (3, "no_code just words")],
        "doc_id long, text string")
    toks = docs.select(
        "doc_id", T.identifier_subtokens_col(F.col("text")).alias("t"))
    got = {r.doc_id: r.t for r in toks.collect()}
    assert got[1] == ["parse", "http", "response",
                      "parse", "http", "response", "snake", "case"]
    # acronym-before-TitleCase split; ___ vanishes; dunder strips
    assert got[2] == ["http", "response", "init", "a1b"]

    vocab = {r.token: r for r in T.identifier_vocab(docs, top_n=50).collect()}
    assert (vocab["http"].n_refs, vocab["http"].n_docs) == (3, 2)
    assert (vocab["snake"].n_refs, vocab["snake"].n_docs) == (1, 1)
    assert "" not in vocab
    # deterministic cut: top_n=1 must pick the highest-ref token
    top1 = T.identifier_vocab(docs, top_n=1).collect()
    assert top1[0].token in {"http", "response", "parse"}  # 3 refs each
    assert top1[0].token == "http"  # tie broken by token ASC


def test_import_signature_groups_vendored_pair(spark):
    """Docs with the same DISTINCT (kind, module) set group regardless
    of statement order, repeats, or body edits; below min_imports no
    signature is emitted; different sets never collide."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "import os\nimport os\nfrom collections import OrderedDict\n"),
         (2, "from collections import defaultdict\nimport os\n# edited\n"),
         (3, "import os\n"),                          # below min_imports
         (4, "import os\nimport sys\n"),              # different set
         (5, "plain prose\n")],
        "doc_id long, text string")
    groups = T.import_signature_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert (g.n_docs, g.first_doc, g.n_modules) == (2, 1, 2)


def test_comment_stripped_dup_groups(spark):
    """Comment-only and blank-line-only diffs fold into one group with
    n_raw_variants counting distinct raw bodies; a real code diff does
    not fold; the stripped projection stays scan-side (no Exchange
    before the aggregate's own shuffle)."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "# v1\ndef f(x):\n    return x\n"),
         (2, "def f(x):\n    // note\n\n    return x\n"),
         (3, "def f(x):\n    return x\n"),
         (4, "def f(x):\n    return x + 1\n")],
        "doc_id long, text string")
    groups = T.comment_stripped_dup_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    # docs 1,2,3 fold; 1 and 2 are distinct raw variants, 3 is a third
    assert (g.n_docs, g.n_raw_variants, g.keeper_id) == (3, 3, 1)


def test_complexity_profile_semantics(spark):
    """Branch keywords are word-bounded ('iffy'/'elifx' don't count,
    'else if' counts once, not as nested else+if), operators count
    per occurrence, nesting maxima track the running depth and clamp
    at 0 for unbalanced closers, and the op is a pure projection."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "if x:\n  pass\nelif y:\n  pass\nelse if (a && b) ? c : d\n"
             "notifier iffy elifx\n"),
         (2, "a(b(c))d((e"),
         (3, ")))(((\n{}{{}}"),
         (4, ""),
         # bracket as the LAST char before a trailing newline: the
         # '(?!$)' split merged '(' with '\n' (Java $ matches before a
         # final line terminator) and undercounted — '(?!\z)' must not
         (5, "((\n")],
        "doc_id long, text string")
    prof = T.complexity_profile(docs)
    got = {r.doc_id: r for r in prof.collect()}
    assert got[5].max_paren_depth == 2
    assert got[1].n_branch_points == 5      # if, elif, else if, &&, ?
    assert got[1].max_paren_depth == 1
    assert got[2].max_paren_depth == 2      # a(b(c)) nests to 2
    # unbalanced: ))) dips to -3, ((( climbs back to 0 -> max clamps 0
    assert got[3].max_paren_depth == 0
    assert got[3].max_brace_depth == 2      # {{}} inside {}{{}}
    assert got[4].n_branch_points == 0 and got[4].max_paren_depth == 0
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_function_neardup_pairs_packing_and_recall(spark):
    """The edited-copy helper is found as a near- (not exact-) dup at
    function granularity, byte-identical copies verify at 1.0, and the
    packed (doc << 16 | fn_idx) identity unpacks to the right unit on
    both sides of every pair."""
    from dataquality_cli_spark.operators import text as T

    body = ("def compute_total(values):\n    total = 0\n"
            "    for v in values:\n        total += v\n"
            "    return total\n")
    docs = spark.createDataFrame(
        [(1, "def unrelated(a):\n    return a\n\n" + body),
         (2, body.replace("total += v", "total += v + 0")),
         (3, body),
         (4, "completely different text with no functions")],
        "doc_id long, text string")
    pairs = {((r.doc_a, r.fn_a), (r.doc_b, r.fn_b)): r.jaccard
             for r in T.function_neardup_pairs(docs).collect()}
    # doc 1's SECOND unit (fn_idx 1) is the helper — packing must
    # surface the index, not just the doc
    assert ((1, 1), (3, 0)) in pairs and pairs[((1, 1), (3, 0))] == 1.0
    edited = [(k, j) for k, j in pairs.items() if (2, 0) in k]
    assert edited and all(0.5 <= j < 1.0 for _, j in edited)
    assert not any(4 in (a[0], b[0]) for a, b in pairs)


def test_generated_guess_precedence(spark):
    """Marker precedence is the GENERATED_PATTERNS order (DO NOT EDIT
    outranks the protoc banner on the same line), matching is
    contains-semantics, and clean files are 'none'."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "// Code generated by protoc-gen-go. DO NOT EDIT.\n"),
         (2, "# @generated by tool\n"),
         (3, "/* Auto-generated file */\n"),
         (4, "this file is AUTOMATICALLY GENERATED, do not touch\n"),
         (5, "def handwritten(): pass\n")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in T.generated_guess(docs).collect()}
    assert got[1].generated_marker == "do_not_edit"
    assert got[2].generated_marker == "at_generated"
    assert got[3].generated_marker == "auto_generated"
    assert got[4].generated_marker == "auto_generated"
    assert got[5].generated_marker == "none" and not got[5].is_generated
    assert got[1].is_generated


def test_code_lang_guess_votes_and_ties(spark):
    """Line-anchored evidence votes: go's := counts anywhere, mixed
    files take the majority, zero evidence is 'unknown', and the fixed
    py > go > js precedence breaks exact ties deterministically."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "import os\ndef f():\n    pass\nclass A:\n    pass\n"),
         (2, "package main\nfunc f() {\n\tx := 1\n}\n"),
         (3, "const a = 1\nlet b = 2\nvar c = 3\nd => e\n"),
         (4, "plain prose with no code at all\n"),
         (5, "import os\nfunc f() {\n"),  # 1 py vs 1 go -> py wins tie
         (6, "import java.util.List;\npublic class A {\n"),
         (7, "use std::collections::HashMap\nfn main() {\n"
             "    let mut x = 1\n"),
         (8, "#include <stdio.h>\n#define MAX 10\n")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in T.code_lang_guess(docs).collect()}
    assert got[1].lang_guess == "python" and got[1].py_evidence == 3
    assert got[2].lang_guess == "go" and got[2].go_evidence == 3
    assert got[3].lang_guess == "js" and got[3].js_evidence == 4
    assert got[4].lang_guess == "unknown"
    assert (got[5].py_evidence, got[5].go_evidence) == (1, 1)
    assert got[5].lang_guess == "python"
    # the java import line fires BOTH py (no-semicolon shape) and java
    # evidence; 'public class' tips the vote past the py tie
    assert got[6].lang_guess == "java" and got[6].java_evidence == 2
    assert got[7].lang_guess == "rust" and got[7].rust_evidence == 3
    assert got[8].lang_guess == "c" and got[8].c_evidence == 2


def test_extract_comments_provenance(spark):
    """One row per full-line comment with 0-based line numbers; the
    marker and ONE following space strip (preserving deliberate
    indentation in the comment body); inline trailing comments are
    not extracted (full-line only); bare markers yield empty text."""
    from dataquality_cli_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "# first\ncode()\n  // indented marker\nx = 1  # trailing\n#\n"),
         (2, "no comments")],
        "doc_id long, text string")
    rows = {(r.doc_id, r.line_no): r.comment
            for r in T.extract_comments(docs).collect()}
    assert rows == {(1, 0): "first", (1, 2): "indented marker", (1, 4): ""}


def test_boilerplate_lines_census_and_removal(spark):
    """Census thresholds on DISTINCT docs (within-doc repeats don't
    inflate reach), blank lines never count as boilerplate, the
    max_lines cap takes highest-reach lines first, and removal
    preserves untouched docs byte-identically while only dropping
    census lines; the removal plan never shuffles document bodies."""
    from dataquality_cli_spark.operators import dedup as D

    header = "// Copyright Corp"
    docs = spark.createDataFrame(
        [(1, f"{header}\nalpha\n\nuniq1\n"),
         (2, f"{header}\n{header}\nuniq2\n"),
         (3, f"{header}\nuniq3\n"),
         (4, "all unique here\n\n")],
        "doc_id long, text string")
    census = {r.line: r for r in
              D.boilerplate_lines(docs, min_docs=3).collect()}
    assert set(census) == {header}
    assert (census[header].n_docs, census[header].n_occurrences) == (3, 4)

    out = {r.doc_id: r for r in
           D.remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert out[1].text == "alpha\n\nuniq1\n" and out[1].n_lines_removed == 1
    assert out[2].text == "uniq2\n" and out[2].n_lines_removed == 2
    assert out[4].text == "all unique here\n\n"   # byte-identical
    assert out[4].n_lines_removed == 0
    plan = (D.remove_boilerplate_lines(docs, min_docs=3)
            ._jdf.queryExecution().executedPlan().toString())
    # the census rides the kernel's closure into a mapInPandas
    # set-lookup kernel — the rewrite plan has NO join and no shuffle
    # of document bodies at all
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_remove_boilerplate_parity_edges(spark):
    """r7 optimization parity pins for the mapInPandas rewrite: Python
    split/strip/md5 must match the previous JVM expressions — trailing
    empties kept by split, blank = trim-of-0x20-only (tabs are NOT
    blank), unicode lines hash by utf-8 bytes, NULL text passes
    through as NULL."""
    from dataquality_cli_spark.operators import dedup as D

    bp = "// generated – ügly ünicode banner"
    docs = spark.createDataFrame(
        [(1, f"{bp}\nkeep one\n"),
         (2, f"{bp}\n\tkeep tab line\n   \n{bp}"),
         (3, f"{bp}\nkeep three"),
         (4, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           D.remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert out[1].text == "keep one\n" and out[1].n_lines_removed == 1
    # tab-indented line is NOT blank but also not boilerplate -> kept;
    # the space-only line IS blank -> kept verbatim
    assert out[2].text == "\tkeep tab line\n   " and \
        out[2].n_lines_removed == 2
    assert out[3].text == "keep three"
    assert out[4].text is None and out[4].n_lines_removed is None


def test_plan_artifacts_leave_no_broadcast_file(spark, emb):
    """The small read-only artifacts of remove_boilerplate_lines (census
    set), bpe_tokenize (merge pairs) and pca_transform (mean and
    components) ride the UDF closure, not a SparkContext broadcast:
    every sc.broadcast writes one file to sc._temp_dir that only
    destroy() unlinks, so building and collecting each leaves none."""
    from dataquality_cli_spark.operators import bpe, similarity
    from dataquality_cli_spark.operators import dedup as D

    header = "// Copyright Corp"
    docs = spark.createDataFrame(
        [(i, f"{header}\nlow lower newest widest {i}\n") for i in range(4)],
        "doc_id long, text string")
    merges = bpe.learn_bpe_merges(docs, n_merges=5)
    model = similarity.pca_fit(emb, k=3)
    temp_dir = spark.sparkContext._temp_dir
    for build in (lambda: D.remove_boilerplate_lines(docs, min_docs=3),
                  lambda: bpe.bpe_tokenize(docs, merges),
                  lambda: similarity.pca_transform(emb, model)):
        before = set(os.listdir(temp_dir))
        assert build().collect()
        assert set(os.listdir(temp_dir)) == before


def test_minhash_mapinpandas_matches_expression_twin(spark):
    """minhash_signatures' hashlib mapInPandas kernel must equal the
    DuckDB oracle query (dedup_minhash_signatures: salted md5 minima over
    list_transform'ed shingles) byte-for-byte, including the edge shapes:
    empty text, shorter-than-k text, non-ASCII codepoints (Python slicing
    and DuckDB substr both count codepoints), and NULL text (NULL
    signature)."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import oracle_sql
    from dataquality_cli_spark.operators import dedup as D

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 20),
        (2, ""),
        (3, "tiny"),                      # < SHINGLE_LEN
        (4, "exactly8"),                  # == SHINGLE_LEN
        (5, "ueber-grün élève 中文文本"
            " mixed unicode text body"),
        (6, None),
        (7, "a" * 100),                   # degenerate: one distinct shingle
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(con.sql(oracle_sql()["dedup_minhash_signatures"]).fetchall())
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in D.minhash_signatures(df).collect())
    assert [r[0] for r in want] == [r[0] for r in rows]
    assert got == want
    assert got[5][1:] == (None,) * D.N_HASHES


def test_kmeans_fused_iteration_matches_numpy_lloyd(spark):
    """r7 optimization parity pin: kmeans_fit's fused mapInArrow
    iteration (assign + partial sums in one pass, driver reduce) must
    reproduce a pure-numpy Lloyd run from the same deterministic
    farthest-point init."""
    import numpy as np

    from dataquality_cli_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 8) * 3
    pts = np.vstack([c + 0.05 * rng.randn(50, 8) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>").repartition(5)
    got = S.kmeans_fit(df, k=4, n_iter=4)

    # reference: same init (hash-ordered sample = all 200 rows here),
    # same argmax-assign, plain numpy means
    import hashlib
    order = sorted(range(len(pts)),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    x0 = pts[order]
    picks = [0]
    d2 = ((x0 - x0[0]) ** 2).sum(axis=1)
    for _ in range(3):
        nxt = int(d2.argmax())
        picks.append(nxt)
        d2 = np.minimum(d2, ((x0 - x0[nxt]) ** 2).sum(axis=1))
    cent = x0[picks].copy()
    for _ in range(4):
        scores = pts @ cent.T - 0.5 * (cent * cent).sum(axis=1)
        cells = scores.argmax(axis=1)
        for c in range(4):
            if (cells == c).any():
                cent[c] = pts[cells == c].mean(axis=0)
    assert np.allclose(got, cent, atol=1e-9), np.abs(got - cent).max()


def test_complexity_depth_kernel_matches_hof_twin(spark):
    """complexity_profile's numpy byte-cumsum depth kernel (and its JVM
    branch counts) must equal the DuckDB oracle query (doc_complexity: a
    per-char running-depth window) exactly, including unicode payloads
    (multi-byte chars never match ASCII brackets), unbalanced closers
    (max clamps at 0), a bracket right before a trailing newline, and
    empty text."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import oracle_sql
    from dataquality_cli_spark.operators import text as T

    rows = [
        (1, "def f(x):\n    return (g(h(x)))\n"),
        (2, "}}}{{{"),
        (3, ")))((("),
        (4, ""),
        (5, "if (a) { if (b) { c(); } }"),
        (6, "unicode (括号 (nested)) ümlaut {x {y}}"),
        (7, "(\n"),          # bracket right before trailing newline
        (8, "((((((((((deep))))))))))"),
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    # the oracle unions its planted code docs (ids 91001+) into the input
    want = sorted(r for r in con.sql(oracle_sql()["doc_complexity"]).fetchall()
                  if r[0] <= len(rows))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in T.complexity_profile(df).collect())
    assert len(want) == len(rows)
    assert got == want
    depths = {r[0]: r[3:] for r in got}
    assert depths[8] == (10, 0) and depths[2] == (0, 0) and depths[5] == (1, 2)


def test_table_buckets_udf_matches_expression_twin(spark, emb):
    """The serving paths' Arrow bucket kernel (_table_buckets_udf) must
    produce the per-table bucket ids of a per-plane numpy reference on
    the real embeddings fixture: planes split evenly over tables, bit j
    of table t set iff dot(vec, plane[t*per+j]) > 0."""
    import numpy as np

    from dataquality_cli_spark.operators import similarity as S

    n_tables = 8
    planes = S.hyperplanes(64, 32, seed=41)
    rows = emb.select("vec_id", "embedding",
                      S._table_buckets_udf(planes, n_tables)(F.col("embedding")).alias("b")
                      ).collect()
    per = len(planes) // n_tables
    assert rows
    for r in rows:
        bits = [float(np.dot(r.embedding, plane)) > 0 for plane in planes]
        ref = [sum(int(bits[t * per + j]) << j for j in range(per))
               for t in range(n_tables)]
        assert r.b == ref, (r.vec_id, r.b, ref)


def test_table_buckets_udf_knife_edge(spark):
    """Vectors whose dot product with a plane is exactly 0.0 or +-1e-12
    (products by +-1 and 0 are exact, so every summation order gives the
    same value): the Arrow kernel and a per-plane numpy reference agree
    on every bucket id, with 0.0 mapped to bit 0."""
    import numpy as np

    from dataquality_cli_spark.operators import similarity as S

    dim, n_tables = 8, 2
    planes = S.hyperplanes(dim, 8, seed=41)
    planes[0] = [1.0, -1.0, 0, 0, 0, 0, 0, 0]   # table 0, bit 0
    planes[5] = [0, 0, 0, 0, 0, 0, 1.0, 0]      # table 1, bit 1
    rng = np.random.RandomState(3)
    vecs = []
    for a, b, c in [(0.3, 0.3, 0.0), (1e-12, 0.0, 1e-12), (-1e-12, 0.0, -1e-12),
                    (0.0, 1e-12, 0.0), (0.0, -1e-12, -0.0), (0.0, 0.0, 0.0)]:
        v = rng.standard_normal(dim)
        v[0], v[1], v[6] = a, b, c
        vecs.append(v)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>")
    got = {r.vec_id: r.b for r in df.select(
        "vec_id", S._table_buckets_udf(planes, n_tables)(F.col("embedding")).alias("b"))
        .collect()}
    per = len(planes) // n_tables
    ref = {}
    for i, v in enumerate(vecs):
        bits = [float(np.dot(v, plane)) > 0 for plane in planes]
        ref[i] = [sum(int(bits[t * per + j]) << j for j in range(per)) for t in range(n_tables)]
    assert got == ref
    # the planted edges: exact 0.0 is bit 0, +1e-12 is bit 1
    assert [ref[i][0] & 1 for i in range(6)] == [0, 1, 0, 0, 1, 0]
    assert [(ref[i][1] >> 1) & 1 for i in range(6)] == [0, 1, 0, 0, 0, 0]


def test_remove_spans_persisted_windows_byte_identity(spark):
    """r7 pin for the persisted-window-table optimization: full
    remove_repeated_spans output (n_tokens / n_tokens_removed /
    cleaned_text) on a corpus with planted repeated spans, plus the
    untouched-doc split-join identity and NULL passthrough. (A
    mapInPandas span kernel was also prototyped this round,
    parity-proven and REJECTED on measurement — see _span_windows'
    docstring.)"""
    from dataquality_cli_spark.operators import dedup as D

    boiler = "x1 x2 x3"
    rows = [(i, f"doc {i} unique words {boiler} tail{i}")
            for i in range(6)] + [(10, "totally unique text here"),
                                  (11, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           D.remove_repeated_spans(df, k_tokens=3, min_docs=5).collect()}
    # the planted 3-token span repeats in 6 docs -> deleted everywhere;
    # overlapping windows around it widen the deletion
    assert out[0].n_tokens == 8 and out[0].n_tokens_removed > 0
    assert "x2" not in out[0].cleaned_text
    assert out[10].cleaned_text == "totally unique text here"
    assert out[10].n_tokens_removed == 0
    assert out[11].cleaned_text is None and out[11].n_tokens is None
