"""pandas.describe()-style per-column profiling — the reference's entire
query surface (SURVEY.md §2a A1-A16, P1-P6) rebuilt as Spark aggregates.

Scale notes: numeric stats are ONE agg pass (partial+final hash agg, no
extra shuffle); unique/top-1 melt to (column, value) — one shuffle over
rows x profiled-cols, with map-side partial aggregation. No driver-side
loops over data; `.collect()` never appears here.

Reference citations (/root/reference):
  counts/nulls   simple_engine.go:186-192,120
  mean/std       simple_engine.go:217-219,287-293 (stddev -> F.stddev_pop)
  min/max        simple_engine.go:221-226 (numeric), :325-342 (lexicographic)
  quantiles      simple_engine.go:304-311 (exact; percentile_approx at scale)
  unique         simple_engine.go:316-318 (exact), adaptive :324-352 (approx)
  top-1 freq     simple_engine.go:239-245
  type vote      simple_engine.go:262-270 (regex parse vote, NOT try_cast —
                 DuckDB TRY_CAST rounds '12.5'->13 while Spark nulls it)
  quality grade  cmd/describe.go:393-401
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import config as C

# portable numeric-parse regexes (identical semantics in Java + DuckDB RE2)
INT_RE = "^-?[0-9]+$"
FLOAT_RE = r"^-?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][-+]?[0-9]+)?$"


def weighted_numeric_aggs(num, cnt) -> dict:
    """Aggregate expressions for exact numeric stats over a
    DISTINCT-VALUE table (one row per value, with its occurrence count):
    weighted mean, population std via sumsq/n - mean^2 (with the nn>0
    guard so all-null columns stay null — greatest() would swallow the
    null), min/max, and frequency-weighted EXACT percentiles. Shared by
    :func:`profile_table` and ``sources.csvdir.describe_files`` so the
    formulas stay in lockstep — the DuckDB oracles mirror these exact
    double operations term by term, and a fix applied to one copy but
    not the other would silently break the other caller's parity."""
    nn = F.sum(F.when(num.isNotNull(), cnt))
    mean = F.sum(num * cnt) / nn
    ex2 = F.sum(num * num * cnt) / nn
    q = F.percentile(num, [0.25, 0.5, 0.75], cnt)
    return {
        "n_num": F.sum(F.when(num.isNotNull(), cnt).otherwise(F.lit(0))),
        "mean": mean,
        "std": F.when(nn > 0,
                      F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0)))),
        "min": F.min(num),
        "max": F.max(num),
        "q25": q[0],
        "q50": q[1],
        "q75": q[2],
    }


def type_vote(df: DataFrame, col: str) -> DataFrame:
    """Reference type inference (simple_engine.go:262-270): 'int' iff every
    non-null value parses as int; 'float' if all parse numeric with at
    least one non-int; else 'string'. Regex-based (portable)."""
    v = F.col(col)
    is_int = v.rlike(INT_RE)
    is_num = v.rlike(FLOAT_RE)
    agg = df.agg(
        F.count(v).alias("n_values"),
        F.sum(F.when(is_int, 1).otherwise(0)).alias("n_int"),
        F.sum(F.when(is_num, 1).otherwise(0)).alias("n_numeric"),
    )
    return agg.select(
        F.lit(col).alias("col_name"),
        "n_values", "n_int", "n_numeric",
        F.when(F.col("n_values") == 0, "string")
        .when(F.col("n_int") == F.col("n_values"), "int")
        .when(F.col("n_numeric") == F.col("n_values"), "float")
        .otherwise("string")
        .alias("inferred_type"),
    )


def quality_grade(null_pct: F.Column) -> F.Column:
    """cmd/describe.go:393-401 verbatim thresholds."""
    return (
        F.when(null_pct > C.QUALITY_POOR_NULL_PCT, "Poor")
        .when(null_pct > C.QUALITY_FAIR_NULL_PCT, "Fair")
        .otherwise("Good")
    )


def needs_detail(null_pct: F.Column, rows: F.Column, cols: F.Column) -> F.Column:
    """P5 'needs detailed analysis' predicate (cmd/describe.go:419-421):
    nullPct>5 OR rows>100000 OR cols>20."""
    return (
        (null_pct > C.NEEDS_DETAIL_NULL_PCT)
        | (rows > C.NEEDS_DETAIL_ROWS)
        | (cols > C.NEEDS_DETAIL_COLS)
    )


def top_k_per_group(df: DataFrame, group: str, order: str, k: int = C.TOP_DETAIL_LIMIT,
                    tiebreak: str | None = None) -> DataFrame:
    """O3 / P6: bounded top-k per group via window rank (cmd/describe.go:
    403-417). Deterministic: secondary sort on `tiebreak`."""
    order_cols = [F.desc(order)] + ([F.asc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(group).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def profile_table(df: DataFrame, numeric_cols: list[str], string_cols: list[str],
                  approx: bool = False) -> DataFrame:
    """Full describe(): long format, one row per column — in ONE scan of
    the input (the r1 version unioned one full df.agg per column: a
    24-column describe was 24 table scans).

    approx=True (the 100 TB plan): a single agg computes every column's
    stats side by side — approx_count_distinct (HLL++) and
    percentile_approx (GK sketch) don't need an Expand the way multiple
    exact COUNT(DISTINCT)s do — then the one wide row is melted to long
    form driver-free with stack().

    approx=False (exact): melt to (column, value) in the scan stage,
    count per distinct value, and compute every stat as a weighted
    aggregate over the distinct-value table (exact unique = row count,
    exact quantiles via frequency-weighted percentile). Same shape as
    sources.csvdir.describe_files; one value shuffle, no Expand."""
    all_cols = [(c, "numeric") for c in numeric_cols] + [
        (c, "string") for c in string_cols
    ]
    if approx:
        aggs = [F.count(F.lit(1)).alias("rows")]
        for c in numeric_cols:
            q = F.percentile_approx(c, [0.25, 0.5, 0.75], 10_000)
            aggs += [
                F.count(c).alias(f"{c}__count"),
                F.round(F.avg(c), 6).alias(f"{c}__mean"),
                F.round(F.stddev_pop(c), 6).alias(f"{c}__std"),
                F.round(F.min(c).cast("double"), 6).alias(f"{c}__min"),
                F.round(q[0], 6).alias(f"{c}__q25"),
                F.round(q[1], 6).alias(f"{c}__q50"),
                F.round(q[2], 6).alias(f"{c}__q75"),
                F.round(F.max(c).cast("double"), 6).alias(f"{c}__max"),
                F.approx_count_distinct(c).alias(f"{c}__unique"),
            ]
        for c in string_cols:
            aggs += [
                F.count(c).alias(f"{c}__count"),
                F.approx_count_distinct(c).alias(f"{c}__unique"),
            ]
        wide = df.agg(*aggs)
        null_d = F.lit(None).cast("double")
        rows = [
            F.struct(
                F.lit(c).alias("column"), F.lit(kind).alias("kind"),
                F.col("rows").alias("rows"), F.col(f"{c}__count").alias("count"),
                *[
                    (F.col(f"{c}__{s}") if kind == "numeric" else null_d).alias(s)
                    for s in ("mean", "std", "min", "q25", "q50", "q75", "max")
                ],
                F.col(f"{c}__unique").alias("unique"),
            )
            for c, kind in all_cols
        ]
        return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")

    # exact: melt -> distinct-value counts -> weighted stats (one scan)
    kv = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"), F.lit(kind).alias("kind"),
                 F.col(c).cast("string").alias("value"))
        for c, kind in all_cols
    ]))
    counted = (
        df.select(kv.alias("kv")).select("kv.*")
        .groupBy("column", "kind", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    num = F.when(F.col("kind") == "numeric", F.col("value").cast("double"))
    flags = counted.select("column", "kind", "value", "cnt", num.alias("num"))
    cnt = F.col("cnt")
    w = weighted_numeric_aggs(F.col("num"), cnt)
    stats = flags.groupBy("column", "kind").agg(
        F.sum(cnt).alias("rows"),
        F.sum(F.when(F.col("value").isNotNull(), cnt).otherwise(F.lit(0))).alias("count"),
        F.round(w["mean"], 6).alias("mean"),
        F.round(w["std"], 6).alias("std"),
        F.round(w["min"], 6).alias("min"),
        F.round(w["q25"], 6).alias("q25"),
        F.round(w["q50"], 6).alias("q50"),
        F.round(w["q75"], 6).alias("q75"),
        F.round(w["max"], 6).alias("max"),
        F.count(F.when(F.col("value").isNotNull(), F.lit(1))).alias("unique"),
    )
    # guarantee one row per column even on an EMPTY input (the melt of
    # zero rows aggregates to zero groups; approx mode's global agg
    # always emits a row — keep the two modes shape-identical)
    seed = df.sparkSession.createDataFrame(
        list(all_cols), "column string, kind string")
    zero = F.lit(0).cast("bigint")
    return seed.join(stats, ["column", "kind"], "left").select(
        "column", "kind",
        F.coalesce("rows", zero).alias("rows"),
        F.coalesce("count", zero).alias("count"),
        "mean", "std", "min", "q25", "q50", "q75", "max",
        F.coalesce("unique", zero).alias("unique"),
    )


def bucket_col(col: str, width: float, n_buckets: int):
    """Clamped fixed-width bucket id — the ONE bucketing expression
    shared by histogram() and drift_psi() (their DuckDB oracles mirror
    it; a change here must change both or parity breaks)."""
    return F.least(F.floor(F.col(col) / F.lit(float(width))),
                   F.lit(n_buckets - 1)).cast("int")


def histogram(df, col: str, width: float, n_buckets: int):
    """Fixed-width histogram: one partial-aggregated shuffle of at most
    ``n_buckets`` groups (values past the top edge clamp into the last
    bucket). Pure arithmetic bucketing — floor(x/width) capped — so it
    is portable to the DuckDB oracle (no width_bucket there) and stays
    inside whole-stage codegen."""
    b = bucket_col(col, width, n_buckets)
    return (
        df.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.round(F.col("bucket") * width, 2).alias("lo"),
            "n",
        )
    )


def drift_psi(cur: DataFrame, ref: DataFrame, col: str,
              width: float, n_buckets: int) -> DataFrame:
    """Population-Stability-Index drift between two snapshots of the
    same table (the monitoring op a data-quality tool runs per column
    per ingest): both sides bucket by the SAME fixed edges (portable
    floor arithmetic, clamped into the last bucket like histogram()),
    then PSI = sum((p_cur - p_ref) * ln(p_cur / p_ref)) with add-one
    smoothing on counts so empty buckets stay finite. Two partial-
    aggregated bucket counts + one tiny join — each side is ONE scan,
    shuffle bounded by n_buckets. Rule of thumb: PSI < 0.1 stable,
    0.1-0.25 moderate drift, > 0.25 action."""
    def bucketed(df: DataFrame) -> DataFrame:
        return (df.filter(F.col(col).isNotNull())
                .select(bucket_col(col, width, n_buckets).alias("bucket"))
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))

    c = bucketed(cur).select("bucket", F.col("n").alias("n_cur"))
    r = bucketed(ref).select("bucket", F.col("n").alias("n_ref"))
    both = c.join(r, "bucket", "full").select(
        "bucket",
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
    )
    tot = both.agg(F.sum("n_cur").alias("tc"), F.sum("n_ref").alias("tr"))
    p = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + F.lit(n_buckets))
    q = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + F.lit(n_buckets))
    per_bucket = both.crossJoin(tot).select(
        "bucket", "n_cur", "n_ref",
        ((p - q) * F.log(p / q)).alias("psi_term"),
    )
    return per_bucket.agg(
        F.round(F.sum("psi_term"), 6).alias("psi"),
        F.sum("n_cur").alias("rows_cur"),
        F.sum("n_ref").alias("rows_ref"),
    ).select(
        F.lit(col).alias("column"), "psi", "rows_cur", "rows_ref",
        F.when(F.col("psi") > 0.25, "action")
        .when(F.col("psi") > 0.1, "moderate")
        .otherwise("stable").alias("drift"),
    )


def value_outliers(df: DataFrame, group: str, col: str,
                   z_threshold: float = 3.0) -> DataFrame:
    """Per-group z-score outlier monitoring (the anomaly half of drift
    monitoring: a batch whose values sit far from the group's own
    distribution). Plan: one tiny per-group stats agg (mean + population
    std via the SHARED weighted_numeric_aggs formulas with unit weights
    — one copy of the parity-critical sumsq-form double ops, mirrored
    term-by-term by the DuckDB oracle; Welford-style stddev_pop drifts
    in the last ulp), broadcast back, flag |v - mean| > z * std. Two
    scans of the column, zero wide shuffle; std == 0 groups report no
    outliers (constant column == nothing is anomalous, not
    everything)."""
    v = F.col(col).cast("double")
    w = weighted_numeric_aggs(v, F.lit(1))
    stats = (
        df.filter(v.isNotNull())
        .groupBy(group)
        .agg(w["mean"].alias("_mean"), w["std"].alias("_std"))
    )
    z = F.when(F.col("_std") > 0, F.abs(v - F.col("_mean")) / F.col("_std"))
    flagged = (
        df.filter(v.isNotNull())
        .join(F.broadcast(stats), group)
        .select(F.col(group), z.alias("_z"))
    )
    return (
        flagged.groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(F.when(F.col("_z") > z_threshold, 1).otherwise(0))
            .cast("long").alias("n_outliers"),
            F.round(F.max("_z"), 4).alias("max_abs_z"),
        )
    )


def quantile_buckets(df: DataFrame, col: str, n_buckets: int = 4) -> DataFrame:
    """Equal-VALUE quantile bucketing — the 100 TB shape the global
    ntile decile query can't take (ntile sorts the whole table on ONE
    partition). Here: exact quantile thresholds in one tiny aggregate
    (percentile partial-aggregates map-side), broadcast back as a
    single-row cross join, and each row's bucket is 1 + the number of
    thresholds strictly below its value — no global sort, no window, one
    scan + one broadcast. Buckets are equal-COUNT only up to ties at the
    thresholds (exactly like any quantile bucketing); values are assumed
    pre-rounded (compare on the same rounded precision in both engines
    or ties at a threshold can flip)."""
    probs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    th = df.agg(F.expr(f"percentile({col}, array({probs}))").alias("_th"))
    return (
        df.join(F.broadcast(th))
        .select(
            *df.columns,
            (F.size(F.filter(F.col("_th"), lambda t: F.col(col) > t)) + 1)
            .cast("int").alias("bucket"),
        )
    )


def distributed_ntile(df: DataFrame, n_tiles: int,
                      order_by: list, n_parts: int = 32) -> DataFrame:
    """EXACT ntile(n) over a total order WITHOUT a single-partition
    Window — the scale-safe form of `ntile(n) OVER (ORDER BY ...)`
    (Spark warns "No Partition Defined ... moving all data to a single
    partition" on the naive form; at 100 TB that is one executor
    sorting the corpus).

    Classic distributed rank: (1) repartitionByRange on the order —
    partition i holds a contiguous slice of the global order; (2)
    row_number per partition, Window PARTITIONED by partition id, so
    every partition sorts only itself in parallel; (3) per-partition
    counts to the driver (bounded: n_parts rows), prefix-summed into
    offsets and broadcast back; global rank = offset + local rank; (4)
    the ntile split formula on the rank. Output values are
    bit-identical to the global-Window ntile for any total order
    (``order_by`` must be tie-free — include a unique key) —
    DuckDB-oracle-checked via doc_quality_deciles.

    Adds the column ``_tile`` (int, 1-based)."""
    from pyspark.sql import Window

    ranged = (df.repartitionByRange(n_parts, *order_by)
              .withColumn("_pid", F.spark_partition_id()))
    w = Window.partitionBy("_pid").orderBy(*order_by)
    # localCheckpoint: the counts action and the output plan must see
    # the SAME range boundaries + lineage only once
    local = ranged.withColumn("_r", F.row_number().over(w)) \
        .localCheckpoint()
    counts = sorted(
        ((r["_pid"], r["n"]) for r in
         local.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()))
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    n = acc
    if n == 0:
        return df.withColumn("_tile", F.lit(None).cast("int"))
    off_df = df.sparkSession.createDataFrame(
        offsets, "_pid int, _off long")
    rank = F.col("_off") + F.col("_r")  # global 1-indexed
    base, rem = divmod(n, n_tiles)
    big = base + 1
    tile = F.when(
        rank <= big * rem, F.ceil(rank / F.lit(big))
    ).otherwise(
        # base==0 only when n < n_tiles, where every rank <= big*rem
        rem + F.ceil((rank - big * rem) / F.lit(max(base, 1)))
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .select(*df.columns, tile.cast("int").alias("_tile"))
    )


def schema_drift(cur: DataFrame, ref: DataFrame) -> list[dict]:
    """Schema diff between two snapshots (the metadata half of drift
    monitoring): columns added / removed / type-changed. Pure metadata —
    no job runs; returns a list of {column, change, cur_type, ref_type}
    dicts ordered by column name (driver-side by nature: schemas are
    driver objects). Duplicate column names (legal in Spark after
    joins) cannot be diffed by name — they are reported as their own
    'duplicate_name' change instead of silently keeping the last
    occurrence."""
    from collections import Counter

    cur_names = Counter(n for n, _ in cur.dtypes)
    ref_names = Counter(n for n, _ in ref.dtypes)
    dupes = {n for n, k in (cur_names | ref_names).items() if k > 1}
    cur_t = {n: t for n, t in cur.dtypes if n not in dupes}
    ref_t = {n: t for n, t in ref.dtypes if n not in dupes}
    out = [
        {"column": c, "change": "duplicate_name",
         "cur_type": None, "ref_type": None}
        for c in sorted(dupes)
    ]
    for c in sorted(set(cur_t) | set(ref_t)):
        if c not in ref_t:
            out.append({"column": c, "change": "added",
                        "cur_type": cur_t[c], "ref_type": None})
        elif c not in cur_t:
            out.append({"column": c, "change": "removed",
                        "cur_type": None, "ref_type": ref_t[c]})
        elif cur_t[c] != ref_t[c]:
            out.append({"column": c, "change": "type_changed",
                        "cur_type": cur_t[c], "ref_type": ref_t[c]})
    return out


def threshold_sweep(df: DataFrame, score_col: str,
                    thresholds: list[float]) -> DataFrame:
    """Keep-rate calibration curve: for each candidate gate threshold,
    how many rows (and what fraction) survive ``score >= threshold`` —
    the readout a corpus owner sweeps before pinning a quality gate.

    Scale shape: NOT |df| x |thresholds| (a naive explode); each row is
    bucketed once with a constant-cost fold (bucket = #thresholds <=
    score), then ONE uniform-key groupBy bounded by n_thresholds+1
    rows. The cumulative keep-counts run on that bounded table (the
    single-partition window touches <= n_thresholds+1 rows — bounded by
    the PARAMETER, not the data). A left join against the literal
    threshold list keeps zero-count thresholds present."""
    from pyspark.sql import Window as W

    ts = sorted(thresholds)
    arr = F.array([F.lit(float(x)) for x in ts])
    bucket = F.aggregate(
        arr, F.lit(0),
        lambda acc, x: acc + F.when(F.col(score_col) >= x, 1).otherwise(0),
    )
    # persisted: `counts` feeds both the total and the cumulative
    # branch — unpersisted, each branch would re-run the corpus scan.
    # The table itself is bounded by n_thresholds+1 rows.
    counts = (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    # the corpus is scanned exactly once (into `counts`); the total
    # comes from the bounded bucket table, not a second count() pass
    total = counts.agg(F.sum("n").alias("n_total"))
    # cumulative from the top: rows with bucket >= i survive threshold i
    w = W.orderBy(F.desc("bucket")).rowsBetween(W.unboundedPreceding, 0)
    cum = counts.select(
        "bucket", F.sum("n").over(w).alias("n_keep_at_bucket"))
    t_df = df.sparkSession.createDataFrame(
        [(i + 1, float(t)) for i, t in enumerate(ts)],
        "bucket int, threshold double",
    )
    return (
        t_df.join(
            cum.withColumnRenamed("bucket", "cb"),
            F.col("cb") >= F.col("bucket"), "left")
        .groupBy("threshold")
        .agg(F.coalesce(F.max("n_keep_at_bucket"), F.lit(0))
             .alias("n_keep"))
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.col("n_keep").cast("long").alias("n_keep"),
            F.round(F.col("n_keep").cast("double")
                    / F.col("n_total").cast("double"), 6).alias("keep_rate"),
        )
    )
