"""Similarity search over an embedding column (array<float>):

- brute-force cosine top-k — the exactness baseline. dot/norms via
  zip_with + aggregate (whole-stage-codegen JVM fold, no UDF); the
  query side is BROADCAST so the scan side never shuffles.
- LSH-bucketed ANN (random hyperplane signatures) — the scale path:
  candidates only within matching sign-bucket, hyperplanes derived
  deterministically from a seed (reproducible across runs/engines).
- near-dup pairs by cosine threshold with label blocking.

At 1000 executors the brute-force path is a broadcast-nested-loop of
(scan x k queries) — linear in table size, no shuffle; the LSH path
shuffles once on the bucket key.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves the postponed
                     # 'pd.Series' annotations from these globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query (excluding self). Query side is
    broadcast — the big side streams through untouched."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = (
        df.alias("t")
        .join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_col(F.col("query_vec"), F.col(vec_col)), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def neardup_pairs_cosine(df: DataFrame, threshold: float = 0.95,
                         block_col: str = "label", id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding near-duplicates: pairs above a cosine threshold inside a
    blocking key (at scale the block comes from LSH, below)."""
    a, b = df.alias("a"), df.alias("b")
    return (
        a.join(b, F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine_col(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") > threshold)
    )


def neardup_pairs_lsh(df: DataFrame, threshold: float = 0.95,
                      n_planes: int = 4, n_tables: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = 64, seed: int = 41,
                      max_bucket_size: int | None = 1024) -> DataFrame:
    """Embedding near-duplicates with LSH blocking — the production
    block for neardup_pairs_cosine (whose label block is a fixture
    convenience): candidates are pairs sharing a hyperplane sign-bucket
    in ANY of ``n_tables`` tables, then exact-verified by cosine >=
    threshold. Recall per table for angle theta is (1-theta/pi)^planes;
    near-dups (theta ~ 0.2 rad at 0.95 cosine) survive one of 8 tables
    with probability ~1-(1-0.77)^8 ~ 0.9999. The pair join shuffles on
    (table, bucket) — never a cross join; ``max_bucket_size`` is the
    same boilerplate-flood guard as the MinHash-LSH dedup cap."""
    from pyspark import StorageLevel

    planes = hyperplanes(dim, n_planes * n_tables, seed)
    buckets = _table_buckets_udf(planes, n_tables)(F.col(vec_col))
    # r7 shape: WITHIN-BUCKET matmul pairing (the semantic_dedup /
    # ngram-jaccard pattern) instead of materializing the candidate
    # pair set. At low plane counts candidates explode (~1M pairs for
    # 2k random vectors at sf0.1) and the old
    # self-join -> distinct -> two vector joins -> per-pair interpreted
    # cosine fold spent ~4 s shuffling and folding pairs that verify to
    # nothing. Now each (table, bucket) group lands in one applyInPandas
    # task carrying its vectors (bucket rows ship the vector — n_tables
    # x corpus vector bytes, BOUNDED per task by ``max_bucket_size``²
    # BLAS flops — versus a candidate-pair shuffle that is O(sum
    # bucket²) rows, which at 10^12 scale dwarfs the vector
    # replication); a normalized matmul emits only pairs with numpy
    # cosine > threshold - 1e-6 (numpy vs left-fold summation differ
    # ~1e-12 — no true pair lost). Cross-table duplicates collapse via
    # distinct on the SURVIVORS (O(near-dups), not O(candidates)), and
    # the final exact expression cosine re-confirms each survivor, so
    # emitted values stay byte-identical to the old path (the Bloom
    # prescreen + exact-confirm pattern). Measured sf0.1: ~4.2 s ->
    # ~1.1 s warm.
    from .dedup import cap_buckets

    # a NULL vector has no cosine to anything (and would fail the
    # kernel's float array): it never enters a bucket
    b = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).alias("_v"),
        F.posexplode(buckets).alias("table", "bucket")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # shared broadcast-anti-join cap — a window count here would sort the
    # whole band table (the exact shape dedup.cap_buckets was measured
    # against); at 10^12 rows that sort is the job's bottleneck
    b = cap_buckets(b, ["table", "bucket"], max_bucket_size)
    id_type = df.schema[id_col].dataType.simpleString()

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        x = np.array(pdf["_v"].to_numpy()[order].tolist(),
                     dtype=np.float64)
        norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
        xn = x / norms[:, None]
        sims = xn @ xn.T
        iu, ju = np.triu_indices(n, k=1)
        hit = sims[iu, ju] > threshold - 1e-6
        return pd.DataFrame({"id_a": ids[iu[hit]], "id_b": ids[ju[hit]]})

    cands = (
        b.groupBy("table", "bucket")
        .applyInPandas(bucket_pairs,
                       schema=f"id_a {id_type}, id_b {id_type}")
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b",
                F.round(cosine_col(F.col("va"), F.col("vb")), 4).alias("cosine"))
        .filter(F.col("cosine") > threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other scale path
# ---------------------------------------------------------------------------

def train_ivf_centroids(df: DataFrame, n_centroids: int = 16, dim: int = 64,
                        vec_col: str = "embedding", seed: int = 43,
                        iterations: int = 2, sample: int = 2048) -> np.ndarray:
    """k-means centroids via a couple of Lloyd iterations over a driver
    sample (standard IVF practice: train on a sample, assign at scale).
    Deterministic: seeded init, HASH-ORDERED sample — order by md5(id)
    spreads the sample across the corpus regardless of how ids correlate
    with content. The previous lowest-id sample is exactly the
    degeneracy kmeans_fit's docstring warns about: when ids are assigned
    per source (source A gets ids 0..n, source B n..2n, ...), the coarse
    quantizer trains on ONE source and recall collapses on the rest."""
    id_col = df.columns[0]
    rows = (
        df.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(sample).select(vec_col).collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=n_centroids, replace=False)]
    for _ in range(iterations):
        d = x @ cent.T  # cosine-ish assignment on roughly-normalized data
        assign = d.argmax(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def _centroid_assign_col(vec: Column, centroids: np.ndarray, nprobe: int = 1) -> Column:
    """Array of the nprobe best centroid ids by dot product — pure column
    expressions (centroids baked as literals; 16x64 doubles is tiny)."""
    scores = F.array(*[
        dot_col(vec, F.array(*[F.lit(float(v)) for v in c])) for c in centroids
    ])
    idx = F.array_sort(
        F.transform(scores, lambda s, i: F.struct(s.alias("s"), i.alias("i"))),
        lambda a, b: F.when(a["s"] > b["s"], -1).when(a["s"] < b["s"], 1).otherwise(0),
    )
    return F.slice(F.transform(idx, lambda x: x["i"]), 1, nprobe)


# above this many centroids the literal-expression probe path is
# replaced by the Arrow batch-matmul path: k*dim literal expressions
# blow up codegen and plan size at production IVF scale (SemDeDup-paper
# deployments use tens of thousands of cells), while a broadcast
# (k x dim) matrix inside a pandas UDF is one matmul per batch
ARROW_PROBE_THRESHOLD = 64

# broadcast-once cache for the Arrow probe path, keyed by the centroid
# array's identity (the cache holds a reference to the array, so its
# id() cannot be recycled while the entry lives). Without it every
# ivf_probe_cells call ships a fresh broadcast — ann_ivf_topk probes
# twice per invocation, so a long-lived serving driver
# (ann_ivf_topk_indexed) accumulates executor-side centroid copies:
# the exact leak bloom.might_contain_col's (sc, bc) cache and the
# classifier's task-closure weights exist to avoid (ADVICE r5).
_PROBE_BC_CACHE: dict = {}
_PROBE_BC_CACHE_MAX = 16


def _centroids_bc(sc, cent: np.ndarray):
    # content digest alongside the identity key: an array mutated IN
    # PLACE (cents[:] = refined) keeps its id, and serving stale
    # centroids silently is exactly the long-lived-driver bug class
    # this cache exists to prevent. Digest cost is linear in k*dim
    # bytes — microseconds against a broadcast round-trip.
    digest = hashlib.md5(cent.tobytes()).digest()
    hit = _PROBE_BC_CACHE.get(id(cent))
    if hit is not None and hit[0] is sc and hit[3] == digest:
        return hit[2]
    if hit is not None and hit[0] is sc:
        # digest mismatch: the array was mutated in place — release the
        # stale broadcast before rebroadcasting, mirroring the eviction
        # path (r6 advice: the overwrite below otherwise leaks an
        # executor-side copy per refit on a long-lived driver)
        hit[2].unpersist(blocking=False)
    # a new SparkContext (test sessions stop/start) invalidates every
    # cached broadcast handle
    for k, (s, _arr, _bc, _d) in list(_PROBE_BC_CACHE.items()):
        if s is not sc:
            del _PROBE_BC_CACHE[k]
    while len(_PROBE_BC_CACHE) >= _PROBE_BC_CACHE_MAX:
        _k, (_s, _arr, old, _d) = next(iter(_PROBE_BC_CACHE.items()))
        del _PROBE_BC_CACHE[_k]
        old.unpersist(blocking=False)  # refetchable by in-flight tasks
    bc = sc.broadcast(cent)
    _PROBE_BC_CACHE[id(cent)] = (sc, cent, bc, digest)
    return bc


def ivf_probe_cells(frame: DataFrame, centroids: np.ndarray, nprobe: int,
                    vec_col: str = "embedding", out_col: str = "cells",
                    arrow_threshold: int = ARROW_PROBE_THRESHOLD) -> DataFrame:
    """Adds ``out_col``: array<int> of the ``nprobe`` best centroid ids
    by dot product, best first (ties -> lower cell id). Two physical
    paths with IDENTICAL results (pytest parity, including full-tie
    inputs like the zero vector): pure column expressions for tiny
    centroid sets (stays in whole-stage codegen, no Python workers),
    and an Arrow batch matmul against the broadcast centroid matrix
    above ``arrow_threshold`` centroids. The Arrow top-nprobe is a full
    per-row lexsort on (-score, cell id) — O(k log k) instead of
    argpartition's O(k), because argpartition picks an ARBITRARY top-p
    set on score ties at the boundary (zero vectors from empty docs tie
    every centroid) and would silently break parity with the literal
    path's stable sort; the matmul dominates the cost either way."""
    cent = np.asarray(centroids, dtype=np.float64)
    if len(cent) <= arrow_threshold:
        return frame.withColumn(
            out_col, _centroid_assign_col(F.col(vec_col), cent, nprobe))
    from pyspark.sql.functions import pandas_udf

    # np.asarray above is a no-copy passthrough for float64 input, so
    # repeated calls with the same centroid array hit the cache
    bc = _centroids_bc(frame.sparkSession.sparkContext, cent)
    p = min(nprobe, len(cent))

    @pandas_udf("array<int>")
    def topc(vecs: pd.Series) -> pd.Series:
        c = bc.value
        x = np.array(vecs.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.Series([], dtype=object)
        scores = x @ c.T
        # (-score, cell) order per row: deterministic under ties
        idx = np.broadcast_to(np.arange(c.shape[0]), scores.shape)
        order = np.lexsort((idx, -scores))
        top = order[:, :p]
        return pd.Series(list(top.astype("int32")))

    return frame.withColumn(out_col, topc(F.col(vec_col)))


def _ivf_rank(t: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Shared probe-join + exact rerank tail of the IVF paths."""
    scored = (
        t.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine_col(F.col("query_vec"), F.col("t_vec")), 4).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_ivf_topk(df: DataFrame, queries: DataFrame, centroids: np.ndarray,
                 k: int = 5, nprobe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 arrow_threshold: int = ARROW_PROBE_THRESHOLD) -> DataFrame:
    """IVF ANN: table vectors live in their single best centroid's
    inverted list; each query probes its ``nprobe`` nearest centroids and
    exact-reranks inside them. The probe join shuffles on the centroid id
    (bounded fanout = nprobe) — never a cross join. Probe assignment
    routes through ``ivf_probe_cells`` (literal expressions for tiny
    centroid sets, Arrow matmul above ``arrow_threshold``)."""
    t = (
        ivf_probe_cells(df, centroids, 1, vec_col, "_cells", arrow_threshold)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("t_vec"),
            F.col("_cells")[0].alias("cell"),
        )
    )
    q = (
        ivf_probe_cells(queries, centroids, nprobe, vec_col, "_cells",
                        arrow_threshold)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
            F.explode("_cells").alias("cell"),
        )
    )
    return _ivf_rank(t, q, k)


def save_ivf_index(df: DataFrame, centroids: np.ndarray, path: str,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   arrow_threshold: int = ARROW_PROBE_THRESHOLD) -> None:
    """Persist the IVF index so serving never refits or reassigns: the
    centroid matrix in long form (cell, d, v) and the inverted lists
    (id, vector, cell) as parquet PARTITIONED BY cell — a query probing
    nprobe cells prunes the scan to those partitions (the same
    partition-pruning contract the corpus sink uses). Same
    artifact-persistence pattern as save_bloom; the production home is
    an Iceberg table per corpus snapshot. Centroids land first, lists
    after — a crash between the two leaves a loadable-but-incomplete
    dir only if list write died, and load_ivf_index reads lists lazily
    so the next overwrite heals it."""
    spark = df.sparkSession
    cent = np.asarray(centroids, dtype=np.float64)
    cent_rows = [
        (int(c), int(d), float(cent[c, d]))
        for c in range(cent.shape[0]) for d in range(cent.shape[1])
    ]
    spark.createDataFrame(cent_rows, "cell int, d int, v double") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "centroids"))
    assigned = (
        ivf_probe_cells(df, cent, 1, vec_col, "_cells", arrow_threshold)
        .select(id_col, vec_col, F.lit("base").alias("batch"),
                F.col("_cells")[0].alias("cell"))
    )
    assigned.write.mode("overwrite").partitionBy("batch", "cell") \
        .parquet(os.path.join(path, "lists"))


def _write_batch_partitions(df: DataFrame, path: str,
                            partition_cols: list) -> None:
    """Dynamic-overwrite write of ONE batch's partitions: a retried add
    replaces exactly its own (batch=..., ...) leaves instead of
    appending duplicates — assignment is deterministic, so a retry
    produces the same leaves and the write is idempotent."""
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy(*partition_cols).parquet(path)


def _check_batch_id(batch_id: str) -> str:
    if not batch_id or batch_id == "base":
        raise ValueError(
            "batch_id must be a non-empty string other than 'base' "
            "(the initial build's partition)")
    return batch_id


def ivf_index_add(spark, path: str, new_df: DataFrame, batch_id: str,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  arrow_threshold: int = ARROW_PROBE_THRESHOLD) -> None:
    """Add a new batch to a persisted IVF index WITHOUT refit (the
    incremental-ingest path, the lsh_incremental_pairs analog for
    serving): new vectors are assigned with the SAVED centroids and
    land in the inverted lists under their own ``batch_id`` partition —
    the existing corpus is never re-read or re-assigned, the coarse
    quantizer stays fixed so old and new entries are comparable, and a
    RETRIED add (orchestrator re-run, crash recovery) overwrites its
    own partitions instead of appending duplicate rows that would
    corrupt top-k. Adding the same vectors under two DIFFERENT batch
    ids is a caller error, like any double ingest. Re-train + rebuild
    (save_ivf_index) when drift between the corpus and the centroids
    grows; that policy call belongs to the caller."""
    _check_batch_id(batch_id)
    cent, _ = load_ivf_index(spark, path)
    assigned = (
        ivf_probe_cells(new_df, cent, 1, vec_col, "_cells",
                        arrow_threshold)
        .select(id_col, vec_col, F.lit(batch_id).alias("batch"),
                F.col("_cells")[0].alias("cell"))
    )
    _write_batch_partitions(assigned, os.path.join(path, "lists"),
                            ["batch", "cell"])


def load_ivf_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """(centroids, inverted-list DataFrame). The list frame is lazy —
    serving joins prune to the probed cell partitions."""
    cent_rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    n_cells = max(r["cell"] for r in cent_rows) + 1
    dim = max(r["d"] for r in cent_rows) + 1
    cent = np.zeros((n_cells, dim), dtype=np.float64)
    for r in cent_rows:
        cent[r["cell"], r["d"]] = r["v"]
    lists = spark.read.parquet(os.path.join(path, "lists")).drop("batch")
    return cent, lists


def ann_ivf_topk_indexed(assigned: DataFrame, queries: DataFrame,
                         centroids: np.ndarray, k: int = 5, nprobe: int = 4,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         arrow_threshold: int = ARROW_PROBE_THRESHOLD) -> DataFrame:
    """Serve IVF top-k against a PERSISTED index (``load_ivf_index``):
    the table side arrives pre-assigned (id, vector, cell) — no refit,
    no reassignment, and the cell-partitioned parquet layout prunes the
    scan to the probed cells."""
    t = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("t_vec"),
        "cell",
    )
    q = (
        ivf_probe_cells(queries, centroids, nprobe, vec_col, "_cells",
                        arrow_threshold)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
            F.explode("_cells").alias("cell"),
        )
    )
    return _ivf_rank(t, q, k)


# ---------------------------------------------------------------------------
# random-hyperplane LSH (scale path)
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, n_planes: int = 12, seed: int = 41) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id: bit j = 1 iff dot(vec, plane_j) > 0.
    Pure column expressions — planes are baked in as literals (tiny)."""
    bucket = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(dot_col(vec, plane) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _table_buckets_udf(planes: np.ndarray, n_tables: int):
    """r7: the serving-path bucket assigner — ONE numpy matmul per
    Arrow batch instead of the per-plane interpreted dot_col fold
    (n_planes x dim x rows lambda evaluations and a 4k-literal
    expression tree at 64 planes; measured ann_lsh_topk 5.8s -> 1.4s
    at sf0.1). Planes split evenly over tables: bit j of table t is
    dot(vec, plane[t*per+j]) > 0, the :func:`lsh_bucket_col` layout.
    Float summation order differs from that left-folded expression
    (BLAS vs sequential), which can only matter for a dot product
    within ~1e-15 of exactly 0 — knife-edge bucket boundaries no REAL
    vector occupies; the exact-oracle routing query (ann_lsh_buckets)
    keeps the expression path. A NULL vector maps to bucket 0 in every
    table, matching when(NULL > 0, ...) semantics."""
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(np.asarray(planes, dtype=np.float64))
    per = len(P) // n_tables

    @pandas_udf("array<long>")
    def tb(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        nulls = vecs.isna()
        safe = [v if v is not None else [0.0] * P.shape[1]
                for v in vecs]
        x = np.array(safe, dtype=np.float64)
        bits = (x @ P.T) > 0
        out = np.zeros((len(x), n_tables), dtype=np.int64)
        for t in range(n_tables):
            for j in range(per):
                out[:, t] += bits[:, t * per + j].astype(np.int64) << j
        out[nulls.to_numpy()] = 0
        return pd.Series([r.tolist() for r in out])

    return tb


def ann_lsh_topk(df: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = 4,
                 n_tables: int = 16, id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 64, seed: int = 41) -> DataFrame:
    """Approximate top-k via MULTI-TABLE hyperplane LSH: a candidate is
    any vector sharing the query's bucket in >= 1 of ``n_tables`` tables
    (single-table recall is (1-theta/pi)^planes — too low for weakly
    clustered data; L tables lift it to 1-(1-p)^L). Candidates are then
    exactly re-ranked by cosine.

    Physical shape: bucket membership is exploded to (table, bucket)
    rows and the candidate join shuffles on that key — the big side
    never cross-joins; at scale the bucket table is a materialized
    index."""
    planes = hyperplanes(dim, n_planes * n_tables, seed)
    buckets = _table_buckets_udf(planes, n_tables)(F.col(vec_col))
    t_b = df.select(F.col(id_col).alias("neighbor_id"),
                    F.posexplode(buckets).alias("table", "bucket"))
    q_b = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(buckets).alias("table", "bucket"),
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    t_vecs = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("t_vec"))
    return _lsh_rank(t_b, q_b, q_vecs, t_vecs, k)


def _lsh_rank(t_b: DataFrame, q_b: DataFrame, q_vecs: DataFrame,
              t_vecs: DataFrame, k: int) -> DataFrame:
    """Shared candidate-join + exact-rerank tail of the LSH ANN paths:
    (table, bucket) equi-join with the query side broadcast, distinct
    candidate pairs, cosine rerank against the vectors table."""
    cands = (
        t_b.join(F.broadcast(q_b), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cands.join(F.broadcast(q_vecs), "query_id")
        .join(t_vecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("query_vec"), F.col("t_vec")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def save_ann_lsh_index(df: DataFrame, path: str, n_planes: int = 4,
                       n_tables: int = 16, id_col: str = "vec_id",
                       vec_col: str = "embedding", dim: int = 64,
                       seed: int = 41) -> None:
    """Persist the multi-table LSH ANN index (the save_ivf_index twin):
    hyperplanes in long form, the (id, table, bucket) membership table
    PARTITIONED BY table, and the vectors table for the rerank join —
    serving a query batch then reads only the probed table partitions
    and never re-hashes the corpus. Vectors are stored ONCE (the bucket
    table carries ids only), so the index costs n_tables bucket rows
    per vector, not n_tables vector copies."""
    spark = df.sparkSession
    planes = hyperplanes(dim, n_planes * n_tables, seed)
    spark.createDataFrame(
        [(int(i), int(j), float(planes[i, j]))
         for i in range(planes.shape[0]) for j in range(planes.shape[1])],
        "plane int, d int, v double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "planes"))
    spark.createDataFrame(
        [(n_planes, n_tables, dim, seed)],
        "n_planes int, n_tables int, dim int, seed int",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "meta"))
    buckets = _table_buckets_udf(planes, n_tables)(F.col(vec_col))
    (df.select(F.col(id_col).alias("neighbor_id"),
               F.lit("base").alias("batch"),
               F.posexplode(buckets).alias("table", "bucket"))
       .write.mode("overwrite").partitionBy("batch", "table")
       .parquet(os.path.join(path, "buckets")))
    (df.select(F.col(id_col).alias("neighbor_id"),
               F.lit("base").alias("batch"),
               F.col(vec_col).alias("t_vec"))
       .write.mode("overwrite").partitionBy("batch")
       .parquet(os.path.join(path, "vectors")))


def ann_lsh_index_add(spark, path: str, new_df: DataFrame,
                      batch_id: str, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """Add a new batch to a persisted LSH index without rebuild: hash
    the batch against the SAVED planes; bucket rows and vectors land
    under the batch's own partition, so a RETRIED add overwrites its
    own leaves instead of appending duplicate vector rows (duplicates
    would surface the same neighbor at two ranks and evict the true
    k-th) — the ivf_index_add twin."""
    _check_batch_id(batch_id)
    idx = load_ann_lsh_index(spark, path)
    buckets = _table_buckets_udf(
        idx["planes"], idx["n_tables"])(F.col(vec_col))
    _write_batch_partitions(
        new_df.select(F.col(id_col).alias("neighbor_id"),
                      F.lit(batch_id).alias("batch"),
                      F.posexplode(buckets).alias("table", "bucket")),
        os.path.join(path, "buckets"), ["batch", "table"])
    _write_batch_partitions(
        new_df.select(F.col(id_col).alias("neighbor_id"),
                      F.lit(batch_id).alias("batch"),
                      F.col(vec_col).alias("t_vec")),
        os.path.join(path, "vectors"), ["batch"])


def load_ann_lsh_index(spark, path: str) -> dict:
    """{planes, n_tables, buckets, vectors} — buckets/vectors are lazy
    DataFrames; the query side hashes against the loaded planes so a
    different session serves identical buckets."""
    meta = spark.read.parquet(os.path.join(path, "meta")).collect()[0]
    rows = spark.read.parquet(os.path.join(path, "planes")).collect()
    n = max(r["plane"] for r in rows) + 1
    dim = max(r["d"] for r in rows) + 1
    planes = np.zeros((n, dim))
    for r in rows:
        planes[r["plane"], r["d"]] = r["v"]
    return {"planes": planes, "n_tables": int(meta["n_tables"]),
            "buckets": spark.read.parquet(
                os.path.join(path, "buckets")).drop("batch"),
            "vectors": spark.read.parquet(
                os.path.join(path, "vectors")).drop("batch")}


def ann_lsh_topk_indexed(index: dict, queries: DataFrame, k: int = 5,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Serve LSH top-k against a PERSISTED index (``load_ann_lsh_index``):
    the corpus side arrives pre-hashed — only the query batch pays the
    hyperplane projections."""
    q_b = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_table_buckets_udf(
            index["planes"], index["n_tables"])(F.col(vec_col)))
        .alias("table", "bucket"),
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"))
    return _lsh_rank(index["buckets"], q_b, q_vecs, index["vectors"], k)


def embedding_centroids(df: DataFrame, vec_col: str = "embedding",
                        label_col: str = "label") -> DataFrame:
    """Per-label centroid components in long form (label, dim, c) plus
    the member count — the cluster-quality QA readout (and the exact
    computation an IVF/k-means assignment step repeats). Long form
    keeps it engine-portable and bounded: n_labels * dim rows. Shape:
    one Generate (posexplode) in the scan stage -> ONE
    partial-aggregated groupBy on (label, dim) — keys are uniform by
    construction (every vector contributes every dim exactly once), so
    no skew is possible; count comes from dim 0 of the same pass, not
    a second scan."""
    ex = df.select(F.col(label_col).alias("label"),
                   F.posexplode(F.col(vec_col)).alias("dim", "v"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(F.col("v").cast("double")), 6).alias("c"),
        )
    )


# ---------------------------------------------------------------------------
# distributed k-means + SemDeDup-style semantic dedup
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication" — public method; clustering for data
# curation: semantic dedup, domain mixing, IVF coarse quantizers)
# ---------------------------------------------------------------------------

def kmeans_fit(df: DataFrame, k: int = 16, vec_col: str = "embedding",
               id_col: str = "vec_id", n_iter: int = 5) -> np.ndarray:
    """Full-corpus distributed Lloyd iterations (train_ivf_centroids is
    the driver-SAMPLE shortcut; this is the honest 100 TB trainer).

    Scale shape per iteration: ONE vectorized Arrow pass assigns every
    vector to its nearest centroid (broadcast (k x dim) matrix inside a
    pandas UDF — batch matmul, no per-row Python and no k*dim literal
    blowup in codegen), then posexplode -> uniform-key partial agg on
    (cell, dim) -> collect exactly k*dim (sum, n) rows to rebuild
    centroids driver-side. Bounded driver state; the corpus shuffles
    only the (cell, dim, component) long form, never raw vectors twice.

    Deterministic init: greedy farthest-point (the deterministic cousin
    of kmeans++ seeding) over a HASH-ORDERED driver sample — order by
    md5(id) spreads the sample across the corpus regardless of how ids
    correlate with content (the k-lowest-ids init degenerates when ids
    are assigned per source/cluster), and is reproducible across
    engines and partitionings, unlike seeded sampling of a shuffled
    RDD. Float summation order varies with partitioning, so refit
    centroids agree across layouts to ~1e-9 (np.allclose,
    pytest-pinned), not bitwise. Empty cells keep their previous
    centroid."""
    sample_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(max(2048, 4 * k)).select(vec_col).collect()
    )
    x0 = np.array([r[0] for r in sample_rows], dtype=np.float64)
    if len(x0) < k:
        raise ValueError(f"need >= {k} vectors to init {k} centroids")
    picks = [0]  # start from the lowest-hash vector
    d2 = ((x0 - x0[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        nxt = int(d2.argmax())  # deterministic: first max on ties
        picks.append(nxt)
        d2 = np.minimum(d2, ((x0 - x0[nxt]) ** 2).sum(axis=1))
    cent = x0[picks].copy()
    dim = cent.shape[1]
    spark = df.sparkSession
    vecs_only = df.select(vec_col)
    # FUSED iteration (the default): one mapInArrow pass per iteration
    # computes assignment AND the per-partition (k x dim) partial sums
    # in the same numpy batch — no ArrowEvalPython + posexplode +
    # groupBy(cell, d) shuffle per iteration (3 fewer plan nodes, one
    # job of ONE stage; measured 1.95s -> 1.35s for k=16, n_iter=5 at
    # sf0.1). The driver reduces P x (k*dim + k) partial rows; that is
    # only scale-safe while the collect stays small, so fall back to
    # the shuffle-aggregated long form when partitions x k x dim would
    # exceed ~64 MB on the driver (the honest 100 TB shape: partial agg
    # + exchange on uniform (cell, d) keys).
    n_parts = max(vecs_only.rdd.getNumPartitions(), 1)
    fused_ok = n_parts * (k * dim + k) * 8 <= 64 * 1024 * 1024
    for _ in range(n_iter):
        if fused_ok:
            bc = spark.sparkContext.broadcast(cent)

            def stats(batches):
                import pyarrow as pa

                c = bc.value
                kk, dd = c.shape
                half = 0.5 * (c * c).sum(axis=1)
                acc = np.zeros((kk, dd))
                cnt = np.zeros(kk, dtype=np.int64)
                for batch in batches:
                    x = np.array(batch.column(0).to_pylist(),
                                 dtype=np.float64)
                    if x.size == 0:
                        continue
                    cells = (x @ c.T - half).argmax(axis=1)
                    np.add.at(acc, cells, x)
                    cnt += np.bincount(cells, minlength=kk)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([acc.flatten().tolist()],
                              type=pa.list_(pa.float64())),
                     pa.array([cnt.tolist()], type=pa.list_(pa.int64()))],
                    ["s", "n"])

            parts = vecs_only.mapInArrow(
                stats, "s array<double>, n array<long>").collect()
            counts = np.zeros(k)
            acc = np.zeros((k, dim))
            for r in parts:
                acc += np.asarray(r["s"]).reshape(k, dim)
                counts += np.asarray(r["n"])
            bc.destroy()
        else:
            assigned = kmeans_assign(df, cent, vec_col=vec_col,
                                     id_col=id_col)
            sums = (
                assigned.select(
                    "cell",
                    F.posexplode(F.col(vec_col)).alias("d", "v"))
                .groupBy("cell", "d")
                .agg(F.sum(F.col("v").cast("double")).alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .collect()
            )
            counts = np.zeros(k)
            acc = np.zeros((k, dim))
            for r in sums:
                acc[r["cell"], r["d"]] = r["s"]
                counts[r["cell"]] = r["n"]
        new = cent.copy()
        nonempty = counts > 0
        new[nonempty] = acc[nonempty] / counts[nonempty, None]
        cent = new
    return cent


def kmeans_assign(df: DataFrame, centroids: np.ndarray,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Adds (cell, cos_to_centroid): nearest centroid by Euclidean
    distance (argmin ||x-c||^2 = argmax x.c - ||c||^2/2, one batch
    matmul per Arrow batch against the broadcast centroid matrix) plus
    the cosine to that centroid — the priority SemDeDup ranks cluster
    members by. Ties (exactly equidistant) go to the lowest cell id
    (np.argmax takes the first maximum)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids,
                                                 dtype=np.float64))

    @pandas_udf("cell int, cos_to_centroid double")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        cent = bc.value
        x = np.array(vecs.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.DataFrame({"cell": [], "cos_to_centroid": []})
        scores = x @ cent.T - 0.5 * (cent * cent).sum(axis=1)
        cells = scores.argmax(axis=1)
        chosen = cent[cells]
        num = (x * chosen).sum(axis=1)
        den = (np.linalg.norm(x, axis=1)
               * np.linalg.norm(chosen, axis=1))
        cos = np.where(den > 0, num / np.maximum(den, 1e-300), 0.0)
        return pd.DataFrame({"cell": cells.astype("int32"),
                             "cos_to_centroid": cos})

    out = df.withColumn("_a", assign(F.col(vec_col)))
    return (out.withColumn("cell", F.col("_a.cell"))
            .withColumn("cos_to_centroid",
                        F.round(F.col("_a.cos_to_centroid"), 6))
            .drop("_a"))


def semantic_dedup(df: DataFrame, centroids: np.ndarray,
                   threshold: float = 0.95,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   max_cell_size: int | None = 10_000,
                   metrics_out: dict | None = None,
                   pre_assigned: bool = False) -> DataFrame:
    """SemDeDup: drop near-semantic-duplicates WITHIN k-means cells.

    A doc is dropped when some same-cell doc with higher keep-priority
    is within ``threshold`` cosine of it. Keep-priority follows the
    paper: LOWER cosine-to-centroid wins (keep the example far from the
    centroid — the diverse one), lowest id tie-break. The rule is a
    single parallel predicate (drop if any better neighbor), not a
    sequential greedy scan: on chains a kept doc's duplicates are
    dropped even if their own duplicates were also dropped —
    conservative over-dropping on transitive chains, deterministic,
    and embarrassingly parallel.

    Scale shape: pairwise comparison happens ONLY within a cell —
    ``applyInPandas`` groups each cell into one task and computes the
    member-vs-member cosine matrix as chunked numpy MATMULS against the
    unit-normalized member matrix (cost sum(cell^2) flops, set by k).
    Measured A/B at sf0.1 (5k vectors, 8 cells): the first shape — a
    cell-key self-join with a zip_with/aggregate cosine fold per pair —
    took ~5 s of interpreted higher-order-function time on ~3M pairs;
    the grouped matmul does the same work in ~0.2 s of BLAS. Same
    shuffle (one exchange on the cell key), 25x less CPU.
    ``max_cell_size`` excludes degenerate mega-cells from pairing
    entirely (reuses dedup.oversized_bucket_keys — same rationale as
    the LSH bucket cap: a cell holding 1% of the corpus carries no
    dedup signal and would dominate the quadratic term; it also bounds
    each task's matmul memory). ``pre_assigned=True`` skips the
    assignment pass: ``df`` already carries (cell, cos_to_centroid)
    from an earlier ``kmeans_assign`` against the SAME centroids (the
    streaming sink's shape — assigning twice per micro-batch is pure
    waste). Returns the kept rows of ``df`` plus
    (cell, cos_to_centroid)."""
    from .dedup import oversized_bucket_keys

    assigned = (df if pre_assigned
                else kmeans_assign(df, centroids, vec_col,
                                   id_col)).persist()
    paired = assigned
    if max_cell_size is not None:
        oversized = oversized_bucket_keys(
            assigned.select("cell"), ["cell"], max_cell_size, metrics_out)
        paired = assigned.join(F.broadcast(oversized), ["cell"],
                               "left_anti")

    def cell_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        # priority order: LOWEST cos_to_centroid first (the keeper the
        # paper prefers), id tie-break. Member k is dropped iff ANY
        # strictly-higher-priority member is within `threshold` cosine
        # — identical to the join-based parallel predicate.
        if len(pdf) < 2:
            return pdf.iloc[0:0][[id_col]]
        pdf = pdf.sort_values(
            ["cos_to_centroid", id_col]).reset_index(drop=True)
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
        xn = x / norms[:, None]
        n = len(xn)
        dropped = np.zeros(n, dtype=bool)
        block = 1024
        for lo in range(1, n, block):
            hi = min(lo + block, n)
            # rows lo..hi vs ALL strictly-earlier-priority members
            sims = xn[lo:hi] @ xn[:hi].T
            for r in range(hi - lo):
                k = lo + r
                if (sims[r, :k] > threshold).any():
                    dropped[k] = True
        return pdf.loc[dropped, [id_col]]

    # schema follows the INPUT id type (long ids and string ids both
    # occur in practice — a hardcoded `long` broke string-keyed corpora)
    id_type = assigned.schema[id_col].dataType.simpleString()
    dropped = paired.groupBy("cell").applyInPandas(
        cell_dedup, schema=f"{id_col} {id_type}")
    if metrics_out is not None:
        # persisted: the metrics count and the anti join below must
        # share ONE execution of the quadratic per-cell stage
        dropped = dropped.persist()
        metrics_out["n_dropped"] = dropped.count()
    kept = assigned.join(dropped, id_col, "left_anti")
    # the persisted assignment serves the grouped dedup, the anti join
    # and the optional metrics count; released by ContextCleaner when
    # the returned plan is dropped (lsh_candidate_pairs convention)
    return kept


# ---------------------------------------------------------------------------
# distributed PCA (one-pass covariance + driver eigendecomposition) —
# dimensionality reduction / whitening ahead of ANN and semantic dedup
# ---------------------------------------------------------------------------

def pca_fit(df: DataFrame, k: int = 8,
            vec_col: str = "embedding") -> dict:
    """Principal components of the embedding table in ONE distributed
    pass. Each partition accumulates (n, sum-vector, sum of outer
    products) with a vectorized numpy pass (no per-row Python) and
    emits the dim x dim upper triangle as sparse (i, j, s) rows —
    bounded by dim^2, never row count; one uniform-key groupBy sums
    them and the driver assembles cov = (S - n mu mu^T) / (n - 1) and
    runs the (dim x dim) eigendecomposition locally. Standard
    sample-covariance PCA — the exact math of sklearn's PCA, recomputed
    here from public formulas.

    Returns {mean: (dim,), components: (k, dim) rows = top components,
    explained_variance: (k,), n: int}. Deterministic up to float
    summation order (partition layouts agree to ~1e-9, pytest-pinned);
    eigenvector SIGN is fixed by making each component's
    largest-magnitude coordinate positive (eigh's sign is otherwise
    arbitrary and would flip across runs)."""

    def part(batches):
        acc_n = 0
        acc_s = None
        acc_o = None
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if x.size == 0:
                continue
            if acc_s is None:
                acc_s = np.zeros(x.shape[1])
                acc_o = np.zeros((x.shape[1], x.shape[1]))
            acc_n += x.shape[0]
            acc_s += x.sum(axis=0)
            acc_o += x.T @ x
        if acc_s is None:
            return
        dim = acc_s.shape[0]
        iu = np.triu_indices(dim)
        yield pd.DataFrame({
            "i": np.concatenate(([-1], iu[0])).astype("int64"),
            "j": np.concatenate(([-1], iu[1])).astype("int64"),
            # the (-1,-1) marker row carries (n, placeholder): counts
            # are integers in float64 — exact to 2^53
            "s": np.concatenate(([float(acc_n)], acc_o[iu])),
        })
        yield pd.DataFrame({
            "i": np.full(dim, -2, dtype="int64"),
            "j": np.arange(dim, dtype="int64"),
            "s": acc_s,
        })

    rows = (
        df.select(vec_col)
        .mapInPandas(part, "i long, j long, s double")
        .groupBy("i", "j").agg(F.sum("s").alias("s"))
        .collect()
    )
    n = 0
    sums = {}
    for r in rows:
        if r["i"] == -1:
            n = int(r["s"])
        else:
            sums[(r["i"], r["j"])] = r["s"]
    if n < 2:
        raise ValueError("pca_fit needs >= 2 vectors")
    dim = max(j for (i, j) in sums if i == -2) + 1
    mu = np.array([sums[(-2, j)] for j in range(dim)]) / n
    outer = np.zeros((dim, dim))
    for (i, j), s in sums.items():
        if i >= 0:
            outer[i, j] = s
            outer[j, i] = s
    cov = (outer - n * np.outer(mu, mu)) / (n - 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T
    # deterministic sign: largest-|coord| positive per component
    for c in comps:
        if c[np.abs(c).argmax()] < 0:
            c *= -1.0
    # total_variance = trace(cov): lets callers report the retained
    # fraction (sum(explained_variance) / total_variance) for free
    return {"mean": mu, "components": comps,
            "explained_variance": w[order],
            "total_variance": float(np.trace(cov)), "n": n}


def pca_transform(df: DataFrame, model: dict,
                  vec_col: str = "embedding",
                  out_col: str = "projection") -> DataFrame:
    """Project embeddings onto the fitted components: one Arrow batch
    matmul against the (k x dim) matrix — same shape as kmeans_assign.
    The mean and components are captured in the UDF closure and ship
    with the task command, so no SparkContext broadcast outlives the
    plan. Output is array<double> of length k."""
    from pyspark.sql.functions import pandas_udf

    mu = np.asarray(model["mean"])
    comps = np.asarray(model["components"])

    @pandas_udf("array<double>")
    def proj(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.Series([], dtype=object)
        y = (x - mu) @ comps.T
        return pd.Series(list(y))

    return df.withColumn(out_col, proj(F.col(vec_col)))


# ---------------------------------------------------------------------------
# text -> embedding bridge: feature-hashed bag-of-tokens vectors
# (the hashing trick, Weinberger et al. 2009 — public method), so the
# k-means / SemDeDup / PCA tier runs on TEXT corpora with no model.
# ---------------------------------------------------------------------------

def hash_embedding(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", dim: int = 64,
                   vec_col: str = "embedding") -> DataFrame:
    """(id, embedding): L2-normalized signed-hash bag-of-tokens vector.

    Token -> bucket via xxhash64(token) mod dim, sign via a second
    hash bit (the signed hashing trick keeps collision noise zero-mean).
    Entirely JVM-side: one Generate (token explode) + two uniform-key
    partial aggs ((id, bucket) sums -> per-id sparse map -> dense
    array) — no UDF, no Python. The embedding is ORDER-INVARIANT over
    tokens, so SemDeDup over it catches shuffled-sentence /
    reordered-paragraph duplicates that character-shingle MinHash
    under-scores; composes as `semantic_dedup(hash_embedding(df), ...)`.
    Empty/whitespace docs get the zero vector (cosine 0 to everything —
    never a near-dup candidate)."""
    tok = F.explode(F.split(F.col(text_col), r"\s+", -1)).alias("tok")
    toks = (
        df.select(F.col(id_col), tok)
        .filter(F.col("tok") != "")
    )
    bucket = F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("int")
    sign = F.when(
        F.pmod(F.xxhash64(F.concat(F.col("tok"), F.lit("\x01sign"))), 2)
        == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    sparse = (
        toks.select(id_col, bucket.alias("b"), sign.alias("s"))
        .groupBy(id_col, "b").agg(F.sum("s").alias("v"))
    )
    dense = (
        sparse.groupBy(id_col)
        .agg(F.map_from_arrays(F.collect_list("b"),
                               F.collect_list("v")).alias("m"))
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.col("m")[i], F.lit(0.0)),
            ).alias("raw"),
        )
    )
    nrm = F.sqrt(F.aggregate(F.col("raw"), F.lit(0.0),
                             lambda a, x: a + x * x))
    unit = F.when(
        nrm > 0,
        F.transform(F.col("raw"), lambda x: (x / nrm).cast("float")),
    ).otherwise(F.transform(F.col("raw"), lambda x: F.lit(0.0).cast("float")))
    out = dense.select(id_col, unit.alias(vec_col))
    # docs with no tokens vanish in the explode — restore as zero vectors
    zeros = (
        df.select(id_col).join(out.select(id_col), id_col, "left_anti")
        .select(id_col,
                F.array_repeat(F.lit(0.0).cast("float"), dim).alias(vec_col))
    )
    return out.unionByName(zeros)


def semantic_dedup_text(df: DataFrame, threshold: float = 0.9,
                        k: int = 16, dim: int = 64,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_cell_size: int | None = 10_000,
                        metrics_out: dict | None = None,
                        pca_dim: int | None = None) -> DataFrame:
    """SemDeDup over a TEXT corpus: hash-embed -> [optional PCA] ->
    k-means -> within-cell semantic dedup; returns the SURVIVING rows
    of ``df`` (all original columns). The order-invariant complement to
    the MinHash/LSH syntactic path — a production pipeline runs both
    (SURVEY §2; MinHash catches local edits, this catches reorderings
    and bag-level duplication).

    ``pca_dim`` (< ``dim``) inserts the one-pass distributed PCA
    between embedding and clustering: k-means and the within-cell
    cosine then run in the projected space — the SemDeDup-paper
    pre-step that both denoises the hash embedding (collision noise
    spreads across dropped components) and cuts the quadratic
    within-cell matmul cost by dim/pca_dim. The projection is a cheap
    Arrow matmul re-run per downstream scan; the persisted parent
    embedding is computed once. ``metrics_out`` gains
    pca_explained_fraction (retained variance share) when on."""
    emb = hash_embedding(df, text_col, id_col, dim).persist()
    n = emb.count()
    if n < 2:
        # degenerate corpus: nothing to dedup — report it and release
        # the cache (no returned plan would ever reference it)
        if metrics_out is not None:
            metrics_out["n_dropped"] = 0
        emb.unpersist()
        return df
    vec_col = "embedding"
    if pca_dim is not None and pca_dim < dim:
        model = pca_fit(emb, k=pca_dim, vec_col="embedding")
        if metrics_out is not None and model["total_variance"] > 0:
            metrics_out["pca_explained_fraction"] = float(
                model["explained_variance"].sum()
                / model["total_variance"])
        emb = pca_transform(emb, model, "embedding", "projection")
        vec_col = "projection"
    cent = kmeans_fit(emb, k=max(1, min(k, n)), vec_col=vec_col,
                      id_col=id_col)
    kept = semantic_dedup(emb, cent, threshold=threshold,
                          vec_col=vec_col, id_col=id_col,
                          max_cell_size=max_cell_size,
                          metrics_out=metrics_out)
    # emb + the assignment persist inside semantic_dedup are released
    # by ContextCleaner with the returned plan (house convention)
    return df.join(kept.select(id_col), id_col, "left_semi")


# --- product quantization (PQ): the ANN memory-compression tier ------
#
# At 10^12 vectors, even the IVF inverted lists are dominated by the
# raw vectors (64 float64 dims = 512 B/vector). PQ stores m small
# codes instead (m=8, k=16 -> 8 ints, 64x smaller), and serves top-k
# by ASYMMETRIC distance: the query stays exact, each database vector
# is approximated by its per-subspace codeword, so distance becomes m
# table lookups. Jegou et al., "Product Quantization for Nearest
# Neighbor Search" (TPAMI 2011) — public method, Spark-first shapes.


def _farthest_point_init(x0: np.ndarray, k: int) -> np.ndarray:
    """Deterministic greedy farthest-point seeding over a driver
    sample (the kmeans_fit init, factored for per-subspace reuse):
    start at row 0, repeatedly take the point farthest from the chosen
    set (first max on ties)."""
    picks = [0]
    d2 = ((x0 - x0[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        nxt = int(d2.argmax())
        picks.append(nxt)
        d2 = np.minimum(d2, ((x0 - x0[nxt]) ** 2).sum(axis=1))
    return x0[picks].copy()


def pq_train(df: DataFrame, m: int = 8, k: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_iter: int = 5) -> np.ndarray:
    """Train an (m-subspace, k-codeword) product quantizer; returns
    codebooks shaped (m, k, dim/m).

    Scale shape: all m subspace k-means run SIMULTANEOUSLY — each
    Lloyd iteration is ONE Arrow encode pass (broadcast codebooks,
    batch matmul per subspace) plus ONE long-form partial aggregation
    on (sub, cell, d) that collects exactly m*k*(dim/m) = k*dim (sum,
    n) rows to the driver. Cost per iteration is independent of m and
    identical to one full-vector k-means iteration; raw vectors are
    never shuffled (posexplode feeds a map-side partial agg).

    Deterministic init: per-subspace farthest-point over the SAME
    hash-ordered driver sample kmeans_fit uses (md5(id) order — id
    layouts can't degenerate the seed). Empty cells keep their
    previous codeword. Refit codebooks agree across partitionings to
    ~1e-9 (float summation order), not bitwise — same contract as
    kmeans_fit."""
    sample_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(max(2048, 4 * k)).select(vec_col).collect()
    )
    x0 = np.array([r[0] for r in sample_rows], dtype=np.float64)
    if len(x0) < k:
        raise ValueError(f"need >= {k} vectors to init {k} codewords")
    dim = x0.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = np.stack([
        _farthest_point_init(
            np.ascontiguousarray(x0[:, j * dsub:(j + 1) * dsub]), k)
        for j in range(m)])
    for _ in range(n_iter):
        enc = pq_encode(df, books, vec_col=vec_col)
        longf = (
            enc.select("pq_codes",
                       F.posexplode(F.col(vec_col)).alias("dd", "v"))
            .select(
                F.expr(f"dd div {dsub}").cast("int").alias("sub"),
                F.pmod(F.col("dd"), F.lit(dsub)).alias("d"),
                F.get("pq_codes",
                      F.expr(f"dd div {dsub}").cast("int")).alias("cell"),
                F.col("v").cast("double").alias("v"))
        )
        sums = (longf.groupBy("sub", "cell", "d")
                .agg(F.sum("v").alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .collect())
        new = books.copy()
        acc = np.zeros((m, k, dsub))
        cnt = np.zeros((m, k))
        for r in sums:
            acc[r["sub"], r["cell"], r["d"]] = r["s"]
            cnt[r["sub"], r["cell"]] = r["n"]
        ne = cnt > 0
        new[ne] = acc[ne] / cnt[ne][:, None]
        books = new
    return books


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding") -> DataFrame:
    """Adds ``pq_codes``: array<int> of m codeword ids (nearest
    subspace centroid by L2, ties to the lower id). One broadcast of
    the (m, k, dsub) codebooks — cached via the same content-digest
    cache the IVF probe uses, so a long-lived serving driver does not
    accumulate executor-side copies — and one batch matmul per
    subspace per Arrow batch. The encoded frame is what an index
    stores: codes + id, 64x smaller than the vectors."""
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, _k, dsub = books.shape
    bc = _centroids_bc(df.sparkSession.sparkContext, books)

    @pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        B = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.array(vecs.tolist(), dtype=np.float64)
        xs = x.reshape(len(x), B.shape[0], B.shape[2])
        codes = np.empty((len(x), B.shape[0]), dtype=np.int32)
        for j in range(B.shape[0]):
            s = xs[:, j, :] @ B[j].T - 0.5 * (B[j] * B[j]).sum(axis=1)
            codes[:, j] = s.argmax(axis=1)
        return pd.Series([c.tolist() for c in codes])

    return df.withColumn("pq_codes", enc(F.col(vec_col)))


def pq_topk(df: DataFrame, queries: DataFrame, codebooks: np.ndarray,
            k: int = 5, id_col: str = "vec_id",
            vec_col: str = "embedding",
            codes_col: str | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k per query: each query builds an
    exact (m x k_codes) lookup table of subspace distances
    ||q_sub - codeword||^2 driver-side (queries are the SMALL side);
    the tables broadcast together, and every database vector's
    approximate distance is m table lookups summed — the big side
    streams m-int codes, never raw vectors. Rank = ascending adist,
    ties to the lower neighbor id (the cosine_topk convention); self
    is excluded. Pass ``codes_col`` to serve from a pre-encoded frame
    (the persisted-index path); otherwise vectors are encoded on the
    fly."""
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, _kc, dsub = books.shape
    if codes_col is None:
        df = pq_encode(df, books, vec_col=vec_col)
        codes_col = "pq_codes"
    qrows = queries.select(id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    luts = np.stack([
        ((books - np.array(r[1], dtype=np.float64)
          .reshape(m, 1, dsub)) ** 2).sum(axis=2)
        for r in qrows])          # (n_q, m, k_codes)
    bc = _centroids_bc(df.sparkSession.sparkContext, luts)
    qids_t = tuple(qids)

    def gen(batches):
        L = bc.value
        for pdf in batches:
            ids = pdf["_nid"].to_numpy()
            codes = np.array(pdf["_codes"].tolist(), dtype=np.int64)
            if codes.size == 0:
                continue
            # adist[q, row] = sum_j L[q, j, codes[row, j]]
            sub_ix = np.arange(L.shape[1])
            out_id, out_q, out_d = [], [], []
            for qi, qid in enumerate(qids_t):
                d = L[qi][sub_ix, codes].sum(axis=1)
                out_q.extend([qid] * len(ids))
                out_id.extend(ids.tolist())
                out_d.extend(d.tolist())
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_id,
                                "adist": out_d})

    scored = (df.select(F.col(id_col).alias("_nid"),
                        F.col(codes_col).alias("_codes"))
              .mapInPandas(gen,
                           f"query_id {df.schema[id_col].dataType.simpleString()}, "
                           f"neighbor_id {df.schema[id_col].dataType.simpleString()}, "
                           "adist double")
              .filter(F.col("query_id") != F.col("neighbor_id")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (scored
            .withColumn("adist", F.round("adist", 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# --- IVF-PQ: coarse cells + residual PQ codes (the 10^12-vector --
# --- serving index) ----------------------------------------------
#
# The composition that makes PQ usable at web scale (Jegou et al.
# 2011, sec. V): a coarse quantizer routes each vector to an IVF
# cell, and PQ encodes the RESIDUAL (x - centroid[cell]) — residuals
# are small and centered, so the same codebook budget buys far lower
# quantization error than raw-vector PQ. The persisted index stores
# (id, cell, m codes) partitioned by cell: a query probes nprobe
# cells (partition-pruned scan), builds per-(query, cell) residual
# lookup tables driver-side, and every candidate costs m table
# lookups — no raw vector is ever read at serve time.


def ivfpq_encode(df: DataFrame, centroids: np.ndarray,
                 codebooks: np.ndarray, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """(id, cell, pq_codes) in ONE Arrow pass: L2 coarse assignment
    (argmin ||x-c||^2 as the matmul identity kmeans_assign uses, ties
    to the lower cell), residual against the chosen centroid, then
    per-subspace codeword argmin on the residual. Both matrices ride
    the digest-keyed broadcast cache, so long-lived serving drivers
    do not accumulate executor copies."""
    from pyspark.sql.functions import pandas_udf

    cent = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    books = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, _kc, dsub = books.shape
    if cent.shape[1] != m * dsub:
        raise ValueError(
            f"centroid dim {cent.shape[1]} != m*dsub {m * dsub}")
    sc = df.sparkSession.sparkContext
    bc_c = _centroids_bc(sc, cent)
    bc_b = _centroids_bc(sc, books)

    @pandas_udf("cell int, pq_codes array<int>")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        C, B = bc_c.value, bc_b.value
        if len(vecs) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "pq_codes": pd.Series([], dtype=object)})
        x = np.array(vecs.tolist(), dtype=np.float64)
        cells = (x @ C.T - 0.5 * (C * C).sum(axis=1)).argmax(axis=1)
        r = (x - C[cells]).reshape(len(x), B.shape[0], B.shape[2])
        codes = np.empty((len(x), B.shape[0]), dtype=np.int32)
        for j in range(B.shape[0]):
            s = r[:, j, :] @ B[j].T - 0.5 * (B[j] * B[j]).sum(axis=1)
            codes[:, j] = s.argmax(axis=1)
        return pd.DataFrame({"cell": cells.astype("int32"),
                             "pq_codes": [c.tolist() for c in codes]})

    out = df.withColumn("_e", enc(F.col(vec_col)))
    return out.select(id_col, F.col("_e.cell").alias("cell"),
                      F.col("_e.pq_codes").alias("pq_codes"))


def ivfpq_train(df: DataFrame, centroids: np.ndarray, m: int = 8,
                k: int = 16, vec_col: str = "embedding",
                id_col: str = "vec_id", n_iter: int = 5) -> np.ndarray:
    """Train PQ codebooks on coarse-cell RESIDUALS: one Arrow pass
    materializes (id, residual), persisted so each of pq_train's Lloyd
    iterations re-reads the residuals instead of recomputing the
    coarse assignment; released before return."""
    from pyspark.sql.functions import pandas_udf

    cent = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    bc_c = _centroids_bc(df.sparkSession.sparkContext, cent)

    @pandas_udf("array<double>")
    def resid(vecs: pd.Series) -> pd.Series:
        C = bc_c.value
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.array(vecs.tolist(), dtype=np.float64)
        cells = (x @ C.T - 0.5 * (C * C).sum(axis=1)).argmax(axis=1)
        return pd.Series([r.tolist() for r in x - C[cells]])

    res = df.select(id_col, resid(F.col(vec_col)).alias("residual"))
    res.persist()
    try:
        return pq_train(res, m=m, k=k, vec_col="residual",
                        id_col=id_col, n_iter=n_iter)
    finally:
        res.unpersist()


def _ivfpq_rank(lists: DataFrame, queries: DataFrame,
                centroids: np.ndarray, codebooks: np.ndarray,
                k: int, nprobe: int, id_col: str,
                vec_col: str) -> DataFrame:
    """Shared ADC serving tail: queries collect driver-side (the SMALL
    side), each probes its nprobe L2-nearest cells (ties to the lower
    cell), and one (n_q*nprobe, m, k_codes) residual lookup-table
    stack broadcasts; candidates join on the cell key (partition-
    pruned against a persisted index) and cost m lookups each. Rank =
    ascending adist, ties to the lower neighbor id; self excluded."""
    from pyspark.sql.functions import pandas_udf

    cent = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    books = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, _kc, dsub = books.shape
    nprobe = min(nprobe, len(cent))
    spark = queries.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    slot_rows, luts = [], []
    for r in qrows:
        qv = np.array(r[1], dtype=np.float64)
        d2 = ((cent - qv) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(cent)), d2))
        for cell in order[:nprobe]:
            res = (qv - cent[cell]).reshape(m, 1, dsub)
            luts.append(((books - res) ** 2).sum(axis=2))
            slot_rows.append((r[0], int(cell), len(luts) - 1))
    idt = queries.schema[id_col].dataType.simpleString()
    slots = spark.createDataFrame(
        slot_rows, f"query_id {idt}, cell int, slot int")
    bc = _centroids_bc(spark.sparkContext, np.stack(luts))

    # probed cells are known driver-side -> STATIC partition pruning:
    # against a persisted index the list scan reads only the probed
    # (batch, cell) leaves (PartitionFilters shows the IN list), not
    # every partition filtered post-scan
    probed = sorted({c for _, c, _ in slot_rows})
    lists = lists.filter(F.col("cell").isin(probed))

    @pandas_udf("double")
    def adc(slot: pd.Series, codes: pd.Series) -> pd.Series:
        L = bc.value
        if len(slot) == 0:
            return pd.Series([], dtype="float64")
        s = slot.to_numpy(dtype=np.int64)
        cd = np.array(codes.tolist(), dtype=np.int64)
        d = L[s[:, None], np.arange(L.shape[1])[None, :], cd].sum(axis=1)
        return pd.Series(d)

    scored = (
        lists.join(F.broadcast(slots), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(adc(F.col("slot"), F.col("pq_codes")), 6)
                .alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_ivfpq_topk(df: DataFrame, queries: DataFrame,
                   centroids: np.ndarray, codebooks: np.ndarray,
                   k: int = 5, nprobe: int = 4,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ ANN end-to-end: encode the table (one Arrow pass) and
    serve by asymmetric distance within the probed cells. Pure ADC
    ranking — identical to serving from the persisted index, which
    stores no raw vectors to rerank with."""
    lists = ivfpq_encode(df, centroids, codebooks, vec_col, id_col) \
        .withColumnRenamed(id_col, "neighbor_id")
    return _ivfpq_rank(lists, queries, centroids, codebooks,
                       k, nprobe, id_col, vec_col)


def save_ivfpq_index(df: DataFrame, centroids: np.ndarray,
                     codebooks: np.ndarray, path: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Persist the IVF-PQ index: centroids and codebooks in long form,
    and the code lists (id, pq_codes) as parquet PARTITIONED BY
    (batch, cell) — the 64x-smaller serving artifact; raw vectors are
    not stored. Params land first, lists after (the save_ivf_index
    crash-ordering contract)."""
    spark = df.sparkSession
    cent = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    spark.createDataFrame(
        [(int(c), int(d), float(cent[c, d]))
         for c in range(cent.shape[0]) for d in range(cent.shape[1])],
        "cell int, d int, v double") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "centroids"))
    spark.createDataFrame(
        [(int(j), int(c), int(d), float(books[j, c, d]))
         for j in range(books.shape[0]) for c in range(books.shape[1])
         for d in range(books.shape[2])],
        "sub int, code int, d int, v double") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "codebooks"))
    enc = ivfpq_encode(df, cent, books, vec_col, id_col) \
        .withColumn("batch", F.lit("base"))
    enc.write.mode("overwrite").partitionBy("batch", "cell") \
        .parquet(os.path.join(path, "lists"))


def ivfpq_index_add(spark, path: str, new_df: DataFrame,
                    batch_id: str, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Incremental ingest without refit (the ivf_index_add contract):
    new vectors encode with the SAVED centroids + codebooks and land
    under their own batch partition; a retried add dynamic-overwrites
    its own (batch, cell) leaves, so retry == noop."""
    _check_batch_id(batch_id)
    cent, books, _ = load_ivfpq_index(spark, path)
    enc = ivfpq_encode(new_df, cent, books, vec_col, id_col) \
        .withColumn("batch", F.lit(batch_id))
    _write_batch_partitions(enc, os.path.join(path, "lists"),
                            ["batch", "cell"])


def load_ivfpq_index(spark, path: str):
    """(centroids, codebooks, lazy code-list DataFrame). Serving joins
    prune the list scan to the probed cell partitions."""
    cent_rows = spark.read.parquet(
        os.path.join(path, "centroids")).collect()
    n_cells = max(r["cell"] for r in cent_rows) + 1
    dim = max(r["d"] for r in cent_rows) + 1
    cent = np.zeros((n_cells, dim), dtype=np.float64)
    for r in cent_rows:
        cent[r["cell"], r["d"]] = r["v"]
    book_rows = spark.read.parquet(
        os.path.join(path, "codebooks")).collect()
    m = max(r["sub"] for r in book_rows) + 1
    kc = max(r["code"] for r in book_rows) + 1
    dsub = max(r["d"] for r in book_rows) + 1
    books = np.zeros((m, kc, dsub), dtype=np.float64)
    for r in book_rows:
        books[r["sub"], r["code"], r["d"]] = r["v"]
    lists = spark.read.parquet(os.path.join(path, "lists")).drop("batch")
    return cent, books, lists


def ann_ivfpq_topk_indexed(lists: DataFrame, queries: DataFrame,
                           centroids: np.ndarray,
                           codebooks: np.ndarray, k: int = 5,
                           nprobe: int = 4, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Serve IVF-PQ top-k against a PERSISTED index
    (``load_ivfpq_index``): the table side arrives as (id, cell,
    pq_codes) — no encode, no raw vectors, and the cell-partitioned
    layout prunes the scan to the probed cells."""
    return _ivfpq_rank(lists.withColumnRenamed(id_col, "neighbor_id"),
                       queries, centroids, codebooks, k, nprobe,
                       id_col, vec_col)


def pq_assign_col(vec: Column, codebooks: np.ndarray) -> Column:
    """``array<int>`` of m PQ codes as PURE column expressions — the
    whole-stage-codegen twin of ``pq_encode`` for small codebooks
    (m*k*dsub literal terms), and the cross-engine-EXACT path: each
    subspace distance is a left-associated sum of (v-c)*(v-c) terms in
    double arithmetic, which DuckDB reproduces bit-for-bit from the
    same literals, so the argmin (ties to the lower code id, via
    lexicographic struct min) matches exactly — no float tolerance
    needed in the oracle. The Arrow path stays the scale twin for big
    codebooks; parity between the two is pytest-pinned."""
    import functools
    import operator

    books = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = books.shape
    subs = []
    for j in range(m):
        cands = []
        for c in range(k):
            terms = []
            for d in range(dsub):
                e = vec[j * dsub + d].cast("double") - F.lit(
                    float(books[j, c, d]))
                terms.append(e * e)
            dist = functools.reduce(operator.add, terms)
            cands.append(F.struct(dist.alias("d"),
                                  F.lit(c).alias("c")))
        subs.append(F.array_min(F.array(*cands))["c"])
    return F.array(*subs)
