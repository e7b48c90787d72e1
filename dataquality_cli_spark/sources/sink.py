"""Deterministic sharded corpus sink.

The write path of a training-data pipeline: partition directories by
low-cardinality dimensions (lang, split, ...), shard within each
partition by a CONTENT-derived hash of the row key, and sort rows
within each shard. Because shard membership is a pure function of
(key, n_shards) — never of Spark's runtime partition layout — the same
input produces the same (partition_dir, shard) -> row-set mapping on 4
cores or 4,000 executors, which makes outputs diffable across runs and
cluster sizes and lets downstream consumers address shards stably.

Incremental refresh pairs with `operators.dedup.snapshot_diff`:
recompute only the partitions that contain added/changed keys and
rewrite them in place with dynamic partition overwrite (untouched
partition directories keep their existing files byte-for-byte).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHARD_COL = "shard"


def shard_col(key, n_shards: int):
    """Content-derived shard id: pmod(xxhash64(key), n_shards). Stable
    across runs, engines' partition layouts, and cluster sizes."""
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(n_shards)).cast("int")


def write_corpus_sharded(df: DataFrame, path: str,
                         partition_cols: tuple[str, ...] = ("lang",),
                         key_col: str = "doc_id", n_shards: int = 8,
                         mode: str = "overwrite",
                         dynamic: bool = False) -> None:
    """Write ``df`` as `path/<p>=<v>/.../shard=<s>/part-*.parquet`.

    One shuffle: repartition on (partition_cols..., shard) places every
    (dir, shard) group wholly in one task, so each leaf directory gets
    exactly ONE data file whose rows are sorted by ``key_col`` —
    deterministic content at any parallelism. ``dynamic=True`` switches
    to dynamic partition overwrite (only partitions present in ``df``
    are replaced — the incremental-ingest mode); default static
    overwrite replaces the whole dataset.

    Dynamic overwrite replaces only (partition, shard) LEAVES present
    in the new write, so a rewritten partition whose new data left some
    shard empty (doc deletions) would otherwise keep that shard's old
    file. After the write, stale shard leaves of every rewritten
    partition are deleted (Hadoop FS, portable). The leaf inventory is
    one tiny distinct over (partition_cols, shard) — bounded by
    #affected-partitions x n_shards, never row count. Cleanup runs
    AFTER the data commit: a crash between the two leaves at worst the
    pre-fix behavior (a stale shard until the next refresh), never a
    half-written partition."""
    spark = df.sparkSession
    keys = [*partition_cols, SHARD_COL]
    staged = df.withColumn(SHARD_COL, shard_col(F.col(key_col), n_shards))
    new_leaves = None
    if dynamic:
        # persisted: the leaf-inventory action and the write below must
        # share one computation of the upstream plan (an incremental
        # refresh feeds this an expensive filtered/joined frame)
        staged = staged.persist()
        new_leaves = {tuple(r) for r in
                      staged.select(*keys).distinct().collect()}
    out = (
        staged.repartition(*[F.col(c) for c in keys])
        .sortWithinPartitions(*keys, key_col)
    )
    writer = out.write.mode(mode)
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    try:
        writer.partitionBy(*keys).parquet(path)
    finally:
        # unpersist even when the write raises: a leaked persisted
        # frame in a long-lived driver outlives the failure
        if dynamic:
            staged.unpersist()
    if dynamic and new_leaves:
        _cleanup_stale_shards(spark, path, partition_cols, new_leaves)


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_partition_value(s: str):
    """Invert Hive/Spark partition-path escaping (%XX percent-encoding;
    the NULL sentinel). UNESCAPING on-disk names is the safe direction:
    re-implementing the ESCAPE side and comparing paths would silently
    miss (or, worse, match the wrong) directory whenever our escape set
    drifted from Spark's — e.g. value 'a:b' is written as 'a%3Ab', and
    a literal value 'a%3Ab' as 'a%253Ab'; decoding keeps them distinct."""
    if s == _HIVE_NULL:
        return None
    out = []
    i = 0
    while i < len(s):
        if s[i] == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1:i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def _fmt_partition_value(v):
    """The string Spark renders a partition VALUE as inside a directory
    name (before escaping): None stays None (matched against the NULL
    sentinel); booleans lowercase; everything else str()."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _cleanup_stale_shards(spark: SparkSession, path: str,
                          partition_cols: tuple[str, ...],
                          new_leaves: set) -> None:
    """Delete shard leaves in rewritten partitions that the new write
    did not produce (see write_corpus_sharded). Walks the on-disk
    partition tree level by level and matches by UNESCAPED directory
    values, so Spark's partition-path escaping (':' -> %3A etc.) can
    never make the cleanup skip a rewritten partition or touch a
    different one."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return
    parts = {tuple(_fmt_partition_value(v) for v in leaf[:-1])
             for leaf in new_leaves}
    shard_of = {}
    for leaf in new_leaves:
        key = tuple(_fmt_partition_value(v) for v in leaf[:-1])
        shard_of.setdefault(key, set()).add(leaf[-1])

    frontier = [(root, ())]
    for col in partition_cols:
        nxt = []
        for hdir, prefix in frontier:
            for st in fs.listStatus(hdir):
                name = st.getPath().getName()
                if not (st.isDirectory() and name.startswith(f"{col}=")):
                    continue
                val = _unescape_partition_value(name.split("=", 1)[1])
                cand = prefix + (val,)
                # prune: only descend toward REWRITTEN partitions
                if any(p[:len(cand)] == cand for p in parts):
                    nxt.append((st.getPath(), cand))
        frontier = nxt
    for hdir, pv in frontier:
        valid = shard_of.get(pv, set())
        for st in fs.listStatus(hdir):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(f"{SHARD_COL}="):
                try:
                    sh = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if sh not in valid:
                    fs.delete(st.getPath(), True)


def read_corpus_sharded(spark: SparkSession, path: str) -> DataFrame:
    """Read a sharded corpus back; partition/shard columns come from
    directory names (partition discovery), so filters on them prune
    directories before any file is opened."""
    return spark.read.parquet(path)
