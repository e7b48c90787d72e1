"""Text-analysis operators over a documents table (doc_id, text, lang,
source, n_chars): token stats, stopword language-ID heuristic, quality
scoring, fingerprinting. All built-in expressions (JVM-side); every op
has an exact ANSI-SQL twin for the DuckDB oracle.

These recast the reference's per-column stats (SURVEY.md §2b) onto the
training-data-pipeline surface the north rule asks for.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves the postponed
                     # 'pd.Series' annotations from these globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# single space tokenizer — the documents fixture is space-separated;
# (the pipeline's code rules use textmetrics' richer whitespace class)
TOKEN_SEP = " "

ALNUM_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
)

# tiny English stopword list for the heuristic language guess (public
# knowledge; fixed + sorted so both engines agree)
EN_STOPWORDS = ("a", "an", "and", "in", "is", "of", "the", "to")
EN_STOPWORD_RATIO_MIN = 0.12


def tokens_col(text: Column) -> Column:
    return F.split(text, TOKEN_SEP, -1)


def alnum_count(content: Column) -> Column:
    """# of [A-Za-z0-9] chars via single-pass translate-delete.
    regexp_replace('[^A-Za-z0-9]','') computes the same thing ~20x
    slower (per-char match + rebuild) — measured 10s vs 0.5s on 90 MB."""
    return F.length(content) - F.length(F.translate(content, ALNUM_CHARS, ""))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token counts + length distribution (whitespace tokenizer,
    SURVEY.md 'token counting')."""
    t = tokens_col(F.col(text_col))
    lens = F.transform(t, F.length)
    return df.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.array_max(lens).cast("long").alias("max_token_len"),
        F.round(
            F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x.cast("long"))
            .cast("double") / F.size(t).cast("double"),
            4,
        ).alias("avg_token_len"),
    )


# BPE-ish pre-tokenization: alpha runs, digit runs, single punctuation
# marks — the merge-free approximation of a GPT-2-style pre-tokenizer.
# RE2-compatible (no backrefs/lookarounds) so Spark and DuckDB agree.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_col(text: Column, kind: str = "bpe") -> Column:
    """Per-doc token-count expression for budget-based packing: 'bpe'
    (the BPE-ish pre-tokenizer above — much closer to a real tokenizer's
    count than whitespace, already oracle-verified via doc_bpe_tokens)
    or 'whitespace'. Pure built-ins either way."""
    if kind == "bpe":
        return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0)))
    if kind == "whitespace":
        return F.size(F.split(text, r"\s+", -1))
    raise ValueError(f"token_count_col: unknown kind {kind!r} "
                     f"(expected 'bpe' or 'whitespace')")


def bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc BPE-ish token counts (SURVEY.md 'token counting:
    whitespace + a BPE-ish regex'; complements token_stats). JVM-side
    regexp_extract_all — no Python in the loop."""
    # function API, not F.expr: SQL string literals would eat the \s escape
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_RE), F.lit(0))
    return df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_bpe_types"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double"), 4,
        ).alias("type_token_ratio"),
    )


def alnum_fraction(df: DataFrame, text_col: str = "text") -> DataFrame:
    n = F.length(F.col(text_col))
    alnum = alnum_count(F.col(text_col))
    return df.select(
        "doc_id",
        F.when(n > 0, F.round(alnum.cast("double") / n.cast("double"), 4))
        .otherwise(F.lit(0.0))
        .alias("alnum_fraction"),
    )


def stopword_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: English-stopword token ratio -> 'en'/'other'.
    (The real model-based langid lives in functions/models.py; this is the
    SQL-expressible heuristic variant with a DuckDB oracle.)"""
    t = tokens_col(F.lower(F.col(text_col)))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    ratio = hits.cast("double") / F.size(t).cast("double")
    return df.select(
        "doc_id",
        "lang",
        F.round(ratio, 4).alias("stopword_ratio"),
        F.when(ratio > EN_STOPWORD_RATIO_MIN, "en").otherwise("other").alias("lang_pred"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length band + token diversity +
    alnum fraction (recast of the reference quality grade,
    cmd/describe.go:393-401, as a continuous score)."""
    from .util import spread

    # same interpreted-HOF-off-one-file reasoning as doc_quality_verdict
    df = spread(df)
    text = F.col(text_col)
    t = tokens_col(text)
    n_tok = F.size(t).cast("double")
    diversity = F.size(F.array_distinct(t)).cast("double") / n_tok
    alnum = alnum_count(text).cast("double") / F.length(text).cast("double")
    len_band = F.when((F.length(text) >= 100) & (F.length(text) <= 2000), 1.0).otherwise(0.5)
    score = (diversity + alnum + len_band) / F.lit(3.0)
    return df.select("doc_id", "lang", F.round(score, 4).alias("quality_score"))


def doc_quality_verdict(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flagship keep/drop gate over the documents table — the same verdict
    shape as the code pipeline (plans/pipeline.py), expressed entirely in
    built-ins so it has an exact DuckDB oracle. Thresholds in config."""
    from .. import config as C

    from .util import spread

    # the token HOFs below (split/array_distinct/transform) run
    # interpreted and inherit the source partitioning — spread so a
    # one-file table uses every core (no-op at scale; measured
    # 0.85s -> 0.43s warm at sf0.1)
    df = spread(df)
    text = F.col(text_col)
    t = tokens_col(text)
    n_tok = F.size(t).cast("long")
    diversity = F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")
    alnum = alnum_count(text).cast("double") / F.length(text).cast("double")
    mtl = F.array_max(F.transform(t, F.length)).cast("long")
    fails = {
        "too_short": n_tok < C.DOC_MIN_TOKENS,
        "low_diversity": diversity < C.DOC_DIVERSITY_MIN,
        "alnum": alnum < C.DOC_ALNUM_MIN,
        "long_token": mtl > C.DOC_MAX_TOKEN_LEN,
    }
    reason = F.lit(None).cast("string")
    for r in reversed(C.DOC_DROP_ORDER):
        reason = F.when(fails[r], F.lit(r)).otherwise(reason)
    return df.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.round(diversity, 4).alias("diversity"),
        F.round(alnum, 4).alias("alnum_fraction"),
        mtl.alias("max_token_len"),
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: sha256 of the raw text + md5 of the
    lowercase-normalized text (both portable to the oracle)."""
    return df.select(
        "doc_id",
        F.sha2(F.col(text_col), 256).alias("sha256_raw"),
        F.md5(F.lower(F.col(text_col))).alias("md5_norm"),
    )


def benchmark_contamination(docs: DataFrame, bench: DataFrame,
                            text_col: str = "text",
                            min_hits: int = 3) -> DataFrame:
    """Benchmark decontamination: flag documents sharing >= ``min_hits``
    character shingles with a benchmark/eval set (the standard n-gram
    decontamination pass before training). Physical shape: the benchmark
    shingle set is DISTINCT-ed and BROADCAST (eval sets are tiny next to
    the corpus), so the 100 TB side is one Generate + broadcast-hash
    join + partial-aggregated groupBy(doc_id) — no shuffle of the corpus
    text, no cross join. Returns only contaminated docs (inner-join
    semantics: zero-hit docs are clean by definition)."""
    from .dedup import shingles_col

    bench_sh = bench.select(
        F.explode(shingles_col(F.col(text_col))).alias("sh")
    ).distinct()
    doc_sh = docs.select(
        "doc_id", F.explode(shingles_col(F.col(text_col))).alias("sh")
    )  # shingles_col is already per-doc distinct
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
        .withColumn("contaminated", F.lit(True))
    )


def dedup_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document duplicate-line removal (keep the FIRST occurrence,
    preserve order) — the cleaning transform behind the dup_line_ratio
    rule: boilerplate/log spam collapses instead of dropping the file.
    Pure column expressions (split -> array_distinct, which is
    first-occurrence order-preserving in Spark -> array_join); one scan,
    no shuffle, whole-stage codegen."""
    lines = F.split(F.col(text_col), "\n", -1)
    uniq = F.array_distinct(lines)
    return df.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(uniq).cast("long").alias("n_unique_lines"),
        (F.size(lines) - F.size(uniq)).cast("long").alias("n_removed"),
        F.array_join(uniq, "\n").alias("cleaned_text"),
    )


def chunk_documents(df: DataFrame, text_col: str = "text",
                    chunk_tokens: int = 64, overlap: int = 16) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    pre-embedding / pre-training splitter (long docs exceed embedding
    and context windows; overlap preserves cross-boundary context).
    stride = chunk_tokens - overlap; chunk starts are the stride
    multiples that introduce at least one new token, so every token is
    covered, consecutive chunks share ``overlap`` tokens, and no chunk
    is fully contained in its predecessor. Pure built-ins: a stepped
    sequence Generate + slice + array_join, no UDF; one scan plus (only
    for an under-partitioned source) the spread repartition. Returns
    (doc_id, chunk_start, n_chunk_tokens, chunk_text); chunk_start
    identifies the chunk (exact stride multiples, portable — no float
    division)."""
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens "
                         f"({chunk_tokens})")
    stride = chunk_tokens - overlap
    # the slice/join work is per-chunk interpreted expression cost —
    # spread a one-file source to every core (the remove_repeated_spans
    # lesson: Generate stages inherit the source's partitioning)
    from .util import spread

    df = spread(df)
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    # last start must introduce >= 1 NEW token: starts <= n-overlap-1
    # (a start in (n-overlap-1, n) would emit a chunk fully contained in
    # its predecessor — duplicate embeddings/retrieval hits downstream)
    starts = F.sequence(F.lit(0), F.greatest(n - overlap - 1, F.lit(0)),
                        F.lit(stride))
    return (
        df.select("doc_id", toks.alias("_t"),
                  F.explode(starts).alias("chunk_start"))
        .withColumn("_t", F.slice(F.col("_t"), F.col("chunk_start") + 1,
                                  chunk_tokens))
        .select(
            "doc_id", "chunk_start",
            F.size("_t").cast("long").alias("n_chunk_tokens"),
            F.array_join("_t", " ").alias("chunk_text"),
        )
    )


def vocabulary(df: DataFrame, text_col: str = "text",
               top_k: int = 100) -> DataFrame:
    """Corpus-wide token vocabulary with counts — the tokenizer-training
    precursor (and the heavy-hitter report a corpus owner reads). One
    Generate (explode) feeding a partial-aggregated groupBy(token)
    (uniform-ish hash keys; a heavy hitter is exactly what map-side
    combine flattens) -> bounded top-k via TakeOrdered, deterministic
    tie-break on the token itself; an under-partitioned source is
    spread first."""
    from .util import spread

    toks = tokens_col(F.col(text_col))
    return (
        spread(df).select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(top_k)
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    table A1 'repetition' filters — public method): the quality gates
    that catch templated/spammy documents whole-doc dedup can't.

    - dup_line_fraction:   duplicated lines / lines
    - top_token_fraction:  occurrences of the most frequent token / tokens
    - dup_2gram_fraction:  duplicated adjacent-token 2-grams / 2-grams

    Pure column expressions with exact DuckDB twins. The top-token
    count runs as a single O(n log n) fold — sort the tokens, then one
    aggregate() pass tracking the longest equal run (r7: the previous
    O(distinct x tokens) transform+filter nest cost 12M interpreted
    comparisons over the sf0.1 corpus, 16.8s on one task; the sorted
    run-fold plus spread() runs the same corpus in well under a
    second, same values — a longest-equal-run of the sorted multiset
    IS the top frequency). Typical gates (Gopher): drop
    dup_line_fraction > 0.30, top_token_fraction > 0.20 (2-gram > 0.20)."""
    from .util import spread

    df = spread(df)
    text = F.col(text_col)
    t = tokens_col(text)
    lines = F.split(text, "\n", -1)
    n_tok = F.size(t)
    srt = F.array_sort(t)
    run_acc = F.aggregate(
        srt,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(a.prev), a.run + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                a.best,
                F.when(x.eqNullSafe(a.prev), a.run + 1).otherwise(F.lit(1)))
            .alias("best")),
    )
    top_cnt = run_acc.best
    # 2-grams via the guarded-sequence pattern (sequence counts DOWN when
    # start > stop, so clamp + filter — same shape as shingles_col)
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(n_tok - 1, F.lit(1))),
        lambda i: i <= n_tok - 1,
    )
    grams2 = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(t, i, 2)))
    n_g2 = F.size(grams2)
    return df.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round((F.size(lines) - F.size(F.array_distinct(lines))).cast("double")
                / F.size(lines).cast("double"), 4).alias("dup_line_fraction"),
        F.round(top_cnt.cast("double") / n_tok.cast("double"), 4)
        .alias("top_token_fraction"),
        F.when(n_g2 > 0,
               F.round((n_g2 - F.size(F.array_distinct(grams2))).cast("double")
                       / n_g2.cast("double"), 4))
        .otherwise(0.0).alias("dup_2gram_fraction"),
    )


def compression_ratio(df: DataFrame, text_col: str = "text",
                      level: int = 6) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    repetitive-garbage detector (highly compressible text = templated /
    repeated content; barely compressible = already-compressed or
    random blobs). Pure-stdlib pandas UDF (zlib is deterministic for a
    fixed level, so results are stable across runs/executors); Arrow
    batches keep it off the per-row-Python path. Typical gates: drop
    ratio < 0.25 (near-duplicate spam) or > 1.0 (binary junk)."""
    import zlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        # pre-encode the whole Arrow batch, then one tight loop over the
        # byte strings — no pandas .map per-element dispatch. Honest
        # measurement (r3): ~8.7 us/doc at ~900B docs, ~4.2 us/doc at
        # ~10B docs, WITHIN NOISE of the .map version both ways —
        # zlib.compress's per-call C cost dominates at every doc size,
        # so this rewrite removes the flagged per-row-dispatch pattern
        # without a real speed change. Output is bit-identical to the
        # per-row version for any batch size.
        encoded = [(t or "").encode("utf-8", "replace") for t in texts]
        out = np.empty(len(encoded), dtype=np.float64)
        compress = zlib.compress
        for i, b in enumerate(encoded):
            out[i] = len(compress(b, level)) / len(b) if b else 1.0
        return pd.Series(out)

    return df.select(
        "doc_id",
        F.length(text_col).cast("long").alias("n_chars"),
        F.round(ratio(F.col(text_col)), 4).alias("compression_ratio"),
    )


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    top_k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/salience
    extractor (smooth-idf formula: tf * (ln((N+1)/(df+1)) + 1), the
    sklearn TfidfVectorizer variant; public knowledge). Recasts the
    reference's top-value frequency stat (updateStringStats top-1
    value, internal/engine/simple_engine.go:239-245) to
    corpus-relative salience.

    Physical shape at 100 TB: explode -> partial-aggregated
    groupBy(doc_id, term) for tf (uniform two-part keys), a second
    partial agg over term for document frequency (vocabulary-sized,
    heavy hitters flattened by map-side combine), an equi-join of the
    two aggregated sides on term, the corpus size N as a broadcast
    1-row cross join, and per-doc top-k via sort_array over a
    collect_list bounded by the doc's distinct-term count — no window,
    no global sort. Rounds BEFORE ranking (pinned parity rule) and
    tie-breaks on the term itself, so results are deterministic across
    engines and partitionings."""
    from pyspark import StorageLevel

    from .util import spread

    # NULL text coalesces to '': split(NULL) is NULL and explode(NULL)
    # emits nothing, which would silently drop the doc from tf AND from
    # the corpus size N used in every other doc's idf
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    # persist the reduced (doc, term, tf) table: it feeds BOTH the
    # doc-frequency agg and the final join — without it Catalyst
    # re-derives the branch from the source, i.e. a second full corpus
    # scan + explode at 100 TB (the lsh_candidate_pairs band-persist
    # lesson). Every doc appears here (empty/NULL text still yields one
    # '' token), so corpus size N comes from this table too — zero
    # extra passes over the raw corpus.
    tf = (
        spread(df).select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * (F.log((F.col("n_docs").cast("double") + F.lit(1.0))
                         / (F.col("doc_freq").cast("double") + F.lit(1.0)))
                   + F.lit(1.0)),
                6,
            ),
        )
    )
    # top-k per doc without a window: sort_array ascending on
    # (-tfidf, term) = tfidf desc, term asc
    packed = F.struct(
        (-F.col("tfidf")).alias("neg"), F.col("term").alias("term"),
        F.col("tf").alias("tf"), F.col("doc_freq").alias("doc_freq"),
        F.col("tfidf").alias("tfidf"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.slice(F.sort_array(F.collect_list(packed)), 1, top_k)
             .alias("top"))
        .select("doc_id", F.explode("top").alias("t"))
        .select("doc_id", "t.term", "t.tf", "t.doc_freq", "t.tfidf")
    )


def bigram_lm_top(df: DataFrame, text_col: str = "text",
                  top_k: int = 100) -> DataFrame:
    """Distributed bigram language-model training: corpus-wide bigram
    counts with MLE conditional probability p_next = c(w1,w2)/c(w1,*),
    top-k by pair count. This is the count-collection stage a KenLM-ish
    scorer (functions/models.py consumes such tables as a broadcast
    log-prob lookup) trains from — the piece that must run distributed
    because n-gram counting IS the 100 TB pass.

    Physical shape: one Generate per doc (adjacent-pair structs via
    transform over a stepped sequence — empty for 1-token docs, Spark's
    sequence() would count DOWN from 1 to 0 otherwise), two
    partial-aggregated groupBys (pair counts, then context totals as a
    second agg over the already-reduced pair table — never over raw
    tokens), an equi-join on w1 of two aggregated vocabulary-bounded
    sides, and a bounded TakeOrdered for the top-k. Probability rounds
    to 6 before emit; total order (n_pair desc, w1, w2) is
    deterministic across engines."""
    from .util import spread

    toks = tokens_col(F.col(text_col))
    tk = F.col("_t")
    pairs = F.transform(
        F.when(F.size(tk) >= 2, F.sequence(F.lit(1), F.size(tk) - 1))
        .otherwise(F.array().cast("array<int>")),
        lambda i: F.struct(
            F.element_at(tk, i).alias("w1"),
            F.element_at(tk, i + 1).alias("w2"),
        ),
    )
    big = (
        spread(df).select(toks.alias("_t"))
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    # persist the pair-count table: it feeds both the context-total agg
    # and the join — unpersisted, Catalyst re-runs the corpus explode
    # for the c1 branch (a second 100 TB pass). c12 is vocabulary²-
    # bounded (distinct pairs), tiny next to the corpus.
    from pyspark import StorageLevel

    c12 = (big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    c1 = c12.groupBy("w1").agg(F.sum("n_pair").alias("n_ctx"))
    return (
        c12.join(c1, "w1")
        .select(
            "w1", "w2", "n_pair", "n_ctx",
            F.round(F.col("n_pair").cast("double")
                    / F.col("n_ctx").cast("double"), 6).alias("p_next"),
        )
        .orderBy(F.desc("n_pair"), F.asc("w1"), F.asc("w2"))
        .limit(top_k)
    )


def token_ngram_contamination(docs: DataFrame, bench: DataFrame,
                              text_col: str = "text", n: int = 13,
                              min_hits: int = 1) -> DataFrame:
    """Token-level n-gram decontamination (the GPT-3/PaLM-style rule:
    a training doc sharing any 13-token n-gram with an eval example is
    contaminated — public method). Complements
    `benchmark_contamination`'s char-shingle screen: token n-grams at
    n=13 are far more specific (near-zero accidental collisions), so
    ``min_hits`` defaults to 1.

    Same physical shape as the shingle variant: eval n-grams
    DISTINCT-ed and BROADCAST; corpus side is one Generate + broadcast
    hash join + partial-aggregated groupBy(doc_id) — the corpus text
    never shuffles. Docs shorter than n tokens produce no n-grams and
    are clean by definition."""
    def grams(col):
        t = tokens_col(col)
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " ")))

    bench_g = bench.select(
        F.explode(grams(F.col(text_col))).alias("g")).distinct()
    doc_g = docs.select(
        "doc_id", F.explode(grams(F.col(text_col))).alias("g"))
    return (
        doc_g.join(F.broadcast(bench_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
        .withColumn("contaminated", F.lit(True))
    )


def code_line_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-file code-shape profile — the DataQuality-CLI per-column
    heuristics recast for a SOURCE-CODE payload (north star: per-file
    rules over repo corpora; same family as blank-ratio / line-length
    in functions/textmetrics.py, but as pure Column expressions with a
    DuckDB twin so the semantics are oracle-checkable):

    - n_lines, comment_lines ('#' or '//' after optional indent),
      comment_ratio
    - indent_tab_lines / indent_space_lines (mixed-indent smell)
    - n_identifiers / max_identifier_len ([A-Za-z_][A-Za-z0-9_]* —
      minified/generated code shows huge identifiers and counts)

    One scan, whole-stage codegen (split + filter/transform + regexp);
    regexes stay in the ASCII subset where Java and RE2 semantics
    agree. The fused-UDF pipeline keeps its Python implementations for
    the hot path; this is the standalone/oracle surface."""
    lines = F.split(F.col(text_col), "\n", -1)
    n_lines = F.size(lines)
    comment = F.size(F.filter(
        lines, lambda l: l.rlike("^[ \t]*(#|//)")))
    tabs = F.size(F.filter(lines, lambda l: l.rlike("^\t")))
    spaces = F.size(F.filter(lines, lambda l: l.rlike("^ ")))
    idents = F.regexp_extract_all(
        F.col(text_col), F.lit("[A-Za-z_][A-Za-z0-9_]*"), 0)
    return df.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        comment.cast("long").alias("comment_lines"),
        F.round(comment.cast("double") / n_lines.cast("double"), 4)
        .alias("comment_ratio"),
        tabs.cast("long").alias("indent_tab_lines"),
        spaces.cast("long").alias("indent_space_lines"),
        F.size(idents).cast("long").alias("n_identifiers"),
        F.coalesce(
            F.array_max(F.transform(idents, lambda x: F.length(x))),
            F.lit(0)).cast("long").alias("max_identifier_len"),
    )


FN_HEADER_RE = "^(def |func |function )"
FN_NAME_RE = r"^(?:def|func|function)\s+([A-Za-z0-9_]+)"


def extract_functions(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Function-granularity unit extraction for code corpora (the
    StarCoder/CodeParrot dedup granularity: whole-file hashing misses
    the copy-pasted helper that appears in thousands of repos). A unit
    is a header line matching ``^(def |func |function )`` (py/go/js
    family) through the line before the next header; preamble before
    the first header is not a unit.

    Built as a pure per-row PROJECTION — split into lines, header
    positions via transform+filter HOFs, (start, next-start] bounds
    via get(i+1) with an end-of-file fallback, then one posexplode —
    so extraction adds NO shuffle and no Python: at 100 TB the only
    exchange in a function-dedup plan is the downstream hash groupBy.
    Regexes stay in the ASCII subset where Java and RE2 agree; the
    DuckDB oracle (entry query code_function_units) reproduces the
    same units via a line-ordinality window formulation, pinning the
    boundary semantics (trailing blank lines belong to the preceding
    unit) cross-engine.

    Returns (id, fn_idx, fn_name, fn_n_lines, fn_text); docs with no
    headers contribute no rows."""
    from .util import spread

    # the per-line rlike/struct HOFs are interpreted — spread an
    # under-partitioned source to cluster parallelism (no-op, and still
    # zero Exchange, when the scan is already parallel at 100 TB)
    df = spread(df)
    lines = F.split(F.col(text_col), "\n", -1)
    hdr_pos = F.filter(
        F.transform(lines, lambda l, i: F.when(
            l.rlike(FN_HEADER_RE), i).otherwise(F.lit(-1))),
        lambda x: x >= 0)
    staged = df.select(
        F.col(id_col), lines.alias("_lines"), hdr_pos.alias("_hp"))
    units = F.transform(
        F.col("_hp"),
        lambda s, i: F.struct(
            s.alias("start"),
            F.coalesce(F.get(F.col("_hp"), i + 1),
                       F.size(F.col("_lines"))).alias("end")))
    ex = staged.select(
        id_col, "_lines", F.posexplode(units).alias("fn_idx", "_u"))
    return ex.select(
        id_col,
        "fn_idx",
        F.regexp_extract(F.get("_lines", F.col("_u.start")),
                         FN_NAME_RE, 1).alias("fn_name"),
        (F.col("_u.end") - F.col("_u.start")).alias("fn_n_lines"),
        F.array_join(
            F.slice("_lines", F.col("_u.start") + 1,
                    F.col("_u.end") - F.col("_u.start")),
            "\n").alias("fn_text"),
    )


def function_dup_groups(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Function-level exact-duplicate groups: md5 over the unit text,
    groups with >1 copy. The grouping key is computed map-side from
    fn_text, so the shuffle carries only (hash, id, n_lines) — never
    the function bodies; partial aggregation halves the count rows
    before the exchange. Exact oracle: entry query
    dedup_function_level."""
    fns = extract_functions(df, id_col, text_col)
    return (
        fns.groupBy(F.md5(F.col("fn_text")).alias("fn_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"),
             F.countDistinct(id_col).alias("n_docs"),
             F.min(id_col).alias("first_doc"),
             F.min("fn_name").alias("fn_name"),
             F.min("fn_n_lines").alias("fn_n_lines"))
        .filter(F.col("n_copies") > 1)
    )


# SPDX tag wins over header-phrase guesses; phrases are the canonical
# opening sentences of each license family, ASCII-only so Java regex
# and RE2 (the DuckDB oracle engine) agree. Order = precedence.
LICENSE_HEADER_PATTERNS = [
    ("mit", "(?i)permission is hereby granted, free of charge"),
    ("apache-2.0", "(?i)licensed under the apache license,? version 2"),
    ("gpl", "(?i)gnu general public license"),
    ("bsd", "(?i)redistribution and use in source and binary forms"),
    ("mpl-2.0", "(?i)mozilla public license,? v(ersion)?\\.? ?2"),
]
_SPDX_RE = r"SPDX-License-Identifier:[ \t]*([A-Za-z0-9.+-]+)"


def license_guess_col(text: Column) -> Column:
    """The license-family guess as a pure Column expression (so a gate
    can FILTER on it with no join): explicit SPDX tag wins
    (lowercased), else the first matching canonical header phrase in
    precedence order, else 'none'."""
    spdx = F.regexp_extract(text, _SPDX_RE, 1)
    guess = F.when(spdx != "", F.lower(spdx))
    for name, pat in LICENSE_HEADER_PATTERNS:
        guess = guess.when(text.rlike(pat), F.lit(name))
    return guess.otherwise(F.lit("none"))


def license_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, spdx_id, license_guess): permissive-license screening —
    the standard admission gate of code-corpus pipelines (StarCoder /
    The Stack keep only permissively-licensed files; public method,
    keyword/SPDX matching re-derived here). One scan, whole-stage
    codegen regexp chain — no UDF, no shuffle; exact DuckDB oracle
    (the patterns stay in the Java-regex/RE2 common subset)."""
    spdx = F.regexp_extract(F.col(text_col), _SPDX_RE, 1)
    return df.select(
        "doc_id",
        F.when(spdx != "", F.lower(spdx)).otherwise(F.lit(""))
        .alias("spdx_id"),
        license_guess_col(F.col(text_col)).alias("license_guess"),
    )


def entropy_signals(df: DataFrame, text_col: str = "text",
                    min_len: int = 20,
                    high_bits: float = 4.0) -> DataFrame:
    """High-entropy token screen — the detect-secrets-style complement
    to the pattern scrub (config.SCRUB_RULES names known key SHAPES;
    Shannon entropy catches the random blobs no pattern names; public
    method, recomputed from the definition). Candidate tokens are
    whitespace-delimited runs of length >= ``min_len`` over the
    base64/hex/identifier charset; per candidate, entropy =
    -sum(p_c log2 p_c) over its characters (bits/char; rounded to 4 for
    cross-engine float parity). Returns (doc_id, n_candidates,
    max_entropy, n_high_entropy) — gate on n_high_entropy > 0.

    Pure higher-order-function expressions: per-token cost is
    O(distinct_chars x len) with len bounded by real token sizes; no
    UDF, no shuffle, and the whole projection runs in the scan stage
    (spread upstream if the source is one file — same note as the
    span operators). Exact DuckDB oracle: Spark's char split is
    split(t, '(?!$)') (split on '' silently drops the last char),
    DuckDB's is string_split(t, '')."""
    toks = F.filter(
        F.split(F.col(text_col), r"\s+", -1),
        lambda t: (F.length(t) >= min_len)
        & t.rlike("^[A-Za-z0-9+/=_-]+$"),
    )

    def ent(t):
        chars = F.split(t, r"(?!$)", -1)
        n = F.size(chars).cast("double")
        # materialize each distinct char's probability ONCE (Spark does
        # not eliminate common subexpressions inside HOF lambdas, so
        # inlining the count into both p and log2(p) would double the
        # O(distinct_chars x len) scan work), then fold p*log2(p).
        # 0.0 - sum (not -sum): a single-distinct-char token sums to
        # +0.0 and unary minus would flip it to -0.0, which the
        # cross-engine value hash distinguishes from DuckDB's +0.0
        probs = F.transform(
            F.array_distinct(chars),
            lambda c: F.size(F.filter(chars, lambda x: x == c))
            .cast("double") / n,
        )
        return F.round(F.lit(0.0) - F.aggregate(
            probs, F.lit(0.0),
            lambda acc, p: acc + p * F.log2(p),
        ), 4)

    ents = F.transform(toks, ent)
    return df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_candidates"),
        F.coalesce(F.array_max(ents), F.lit(0.0)).alias("max_entropy"),
        F.size(F.filter(ents, lambda e: e > high_bits))
        .cast("long").alias("n_high_entropy"),
    )


# the (kind, pattern) table for import extraction — module-level so the
# Spark operator and the DuckDB oracle builder render from ONE source.
# Patterns stay in the ASCII subset where Java regex and RE2 agree (no
# lookaround, no backreferences); single-module statement forms only —
# comma imports and Go import blocks contribute their first/no module,
# identically in both engines.
IMPORT_PATTERNS = [
    ("py_import", r"(?m)^[ \t]*import[ \t]+([A-Za-z_][A-Za-z0-9_.]*)"),
    ("py_from", r"(?m)^[ \t]*from[ \t]+([A-Za-z_][A-Za-z0-9_.]*)[ \t]+import"),
    ("js_require", r"require\('([^']+)'\)"),
    ("js_esm", r"(?m)^[ \t]*import[ \t]+[^;\n]*from[ \t]+'([^']+)'"),
    ("go_import", r"(?m)^[ \t]*import[ \t]+\"([^\"]+)\""),
    # a Java import is the py_import shape with a ';' — both kinds fire
    # on it (documented polyglot overlap; java_import requires the
    # semicolon so py-only lines never cross-fire)
    ("java_import", r"(?m)^[ \t]*import[ \t]+([A-Za-z_][A-Za-z0-9_.]*);"),
    ("rust_use", r"(?m)^[ \t]*use[ \t]+([A-Za-z_][A-Za-z0-9_:]*)"),
    ("c_include", r"(?m)^[ \t]*#include[ \t]*[<\"]([^>\"]+)[>\"]"),
]


def extract_imports(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """One row per (doc, kind, module) import reference — the
    dependency-edge extraction a code-corpus pipeline feeds into
    ecosystem stats, vendored-code detection, and license-risk joins.

    All five language patterns run in ONE codegen projection: each
    regexp_extract_all yields that kind's match array, the arrays are
    tagged with their kind and concatenated, and a single posexplode
    emits the edges — one scan, one Generate, no UDF, no shuffle. The
    kinds deliberately overlap on polyglot text (a JS ESM default
    import also matches the py_import shape); emitting per-kind rows
    keeps the semantics deterministic instead of guessing a language.
    Repeated references within a doc are kept (n_refs signal); the
    aggregate view dedupes via countDistinct. Exact oracle: entry
    query code_import_graph."""
    def _tag(kind):
        # one-arg closure on purpose: F.transform passes (element,
        # index) to any two-parameter callable, so the usual
        # `lambda mm, _k=kind:` default-arg idiom would silently bind
        # _k to the array INDEX column
        return lambda mm: F.struct(
            F.lit(kind).alias("kind"), mm.alias("module"))

    # '(?d)' (Java UNIX_LINES, Spark side only) restricts multiline ^
    # to \n exactly like RE2 — without it Java also fires after \r,
    # U+0085 and U+2028, and the shared-table DuckDB oracle diverges
    # on CR-bearing docs
    tagged = [
        F.transform(
            F.regexp_extract_all(F.col(text_col), F.lit("(?d)" + pat), 1),
            _tag(kind))
        for kind, pat in IMPORT_PATTERNS
    ]
    return (
        df.select(F.col(id_col), F.explode(F.concat(*tagged)).alias("im"))
        .select(id_col, F.col("im.kind").alias("kind"),
                F.col("im.module").alias("module"))
    )


def import_graph(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Corpus-level dependency summary: per (kind, module) the number
    of importing docs and total references. The heavy text column
    never leaves the map side — the exchange carries (kind, module,
    doc_id) edge rows only, partial-aggregated before the shuffle."""
    edges = extract_imports(df, id_col, text_col)
    return (
        edges.groupBy("kind", "module")
        .agg(F.countDistinct(id_col).alias("n_docs"),
             F.count(F.lit(1)).alias("n_refs"))
    )


IDENT_RE = "[A-Za-z_][A-Za-z0-9_]*"


def identifier_subtokens_col(text: Column) -> Column:
    """Lowercased subtokens of every identifier in ``text`` — the
    tokenization a code-search / code-LM vocabulary builds on
    (``parseHTTPResponse`` -> [parse, http, response];
    ``snake_case_name`` -> [snake, case, name]). Two camel boundary
    rewrites (acronym-run before TitleCase tail, then lower/digit to
    upper), underscores to spaces, lower, split. Pure codegen column
    expression; the regexes and $-free char classes sit in the
    Java-regex/RE2 common subset so DuckDB mirrors them (backref
    syntax differs per engine — $1 vs \\1 — but that is replacement
    spelling, not match semantics)."""
    idents = F.regexp_extract_all(text, F.lit(IDENT_RE), 0)
    sub = F.transform(idents, lambda x: F.split(F.trim(F.lower(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(x, "([A-Z]+)([A-Z][a-z])", "$1 $2"),
                "([a-z0-9])([A-Z])", "$1 $2"),
            "_+", " "))), " +"))
    return F.filter(F.flatten(sub), lambda t: t != "")


def identifier_vocab(df: DataFrame, text_col: str = "text",
                     top_n: int = 50) -> DataFrame:
    """Corpus identifier-subtoken vocabulary: top-N subtokens by total
    references with importing-doc counts. The explode ships only
    (token, doc_id) pairs — the document body never crosses the
    exchange — and the top-N is TakeOrdered on the deterministic
    (n_refs DESC, token ASC) key, no global sort. Exact oracle: entry
    query code_identifier_vocab."""
    toks = df.select(
        F.col("doc_id"),
        F.explode(identifier_subtokens_col(F.col(text_col))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_refs"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_refs"), F.asc("token"))
        .limit(top_n)
    )


def import_signature_groups(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            min_imports: int = 2) -> DataFrame:
    """Vendored/generated-code detection by dependency fingerprint:
    docs whose DISTINCT (kind, module) import set is identical form a
    group — copied files keep their import block even when the body is
    edited, so the signature survives edits that defeat content-hash
    dedup. Shape at 100 TB: edges only (never text) shuffle to the
    per-doc set build, then one groupBy on a uniform md5 key with
    map-side combine — same plan family as exact_dup_groups.
    ``min_imports`` drops prose docs with accidental single matches."""
    edges = extract_imports(df, id_col, text_col)
    sigs = (
        edges.select(id_col, F.concat_ws(":", "kind", "module").alias("km"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("km")).alias("mods"))
        .filter(F.size("mods") >= min_imports)
        .select(F.col(id_col),
                F.md5(F.array_join("mods", "|")).alias("dep_signature"),
                F.size("mods").alias("n_modules"))
    )
    return (
        sigs.groupBy("dep_signature", "n_modules")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("first_doc"))
        .filter(F.col("n_docs") > 1)
    )


# blank line OR full-line #/// comment (the only comment forms the
# line profile recognizes — block comments are out of scope, same as
# code_line_profile's comment_lines)
_STRIP_LINE_RE = "^[ \t]*((#|//).*)?$"


def strip_comments_col(text: Column) -> Column:
    """``text`` with full-line comments and blank lines removed — the
    normalization under which two code files that differ only in
    comments/vertical whitespace become byte-identical."""
    lines = F.split(text, "\n", -1)
    # '(?d)': without UNIX_LINES Java's $ also matches BEFORE a final
    # \r, silently blanking CRLF lines where RE2 (the oracle) keeps
    # them
    return F.array_join(
        F.filter(lines, lambda l: ~l.rlike("(?d)" + _STRIP_LINE_RE)), "\n")


def comment_stripped_dup_groups(df: DataFrame,
                                text_col: str = "text") -> DataFrame:
    """Code dedup modulo comments: md5(strip_comments) groups with
    multiplicity > 1, plus how many distinct raw variants the group
    folds (n_raw_variants > 1 = files only the stripping reveals as
    duplicates — the code-payload analog of dedup.normalized_dup_groups,
    which handles prose casing/whitespace). Scan-stage expression
    work, then one shuffle on a uniform 128-bit key."""
    stripped = strip_comments_col(F.col(text_col))
    return (
        # empty stripped payloads (empty / all-blank / all-comment
        # files) are excluded: they share no content, and md5('')
        # would be the one hot reducer key the uniform-key scale
        # claim forbids
        df.filter(stripped != "")
        .groupBy(F.md5(stripped).alias("code_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.countDistinct(F.sha2(F.col(text_col), 256))
              .alias("n_raw_variants"),
             F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


# branch-point tokens for the complexity estimate: decision keywords
# must be whole words (an identifier like 'iffy' or 'covid' must not
# count), operators match literally. Kept to forms shared by the
# py/js/go family the corpus carries.
_BRANCH_WORD_RE = r"\b(if|elif|else if|for|while|case|catch|except)\b"
_BRANCH_OP_RE = r"&&|\|\||\?"


def complexity_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-file complexity/shape signals for quality gating — the
    decision-density heuristics a code-corpus filter uses to drop
    machine-generated or pathologically-flat files (public method:
    cyclomatic complexity ~ decision points + 1, approximated
    lexically since no parser runs at corpus scale):

    - n_branch_points: decision keywords (word-bounded) + short-circuit
      / ternary operators; branch_density: per line
    - max_paren_depth / max_brace_depth: running-nesting maxima over
      characters (minified or generated code shows extreme depth)

    One scan, no shuffle; exact DuckDB oracle (entry query
    doc_complexity). The depth maxima run as a numpy cumsum kernel over
    the raw UTF-8 bytes in one Arrow pass (r7: the previous
    interpreted per-char struct-fold allocated ~2 chars' worth of
    structs per byte, twice — SURVEY.md §7 measured that expression
    shape allocation-bound; brackets are ASCII so byte-level cumsum is
    exactly the per-char fold, parity pytest-pinned against the DuckDB
    doc_complexity query); the branch counts stay JVM regexp codegen."""
    from pyspark.sql.functions import pandas_udf

    from .util import spread

    text = F.col(text_col)
    n_lines = F.size(F.split(text, "\n", -1))
    branches = (
        F.size(F.regexp_extract_all(text, F.lit(_BRANCH_WORD_RE), 0))
        + F.size(F.regexp_extract_all(text, F.lit(_BRANCH_OP_RE), 0))
    ).cast("long")

    @pandas_udf("max_paren long, max_brace long")
    def depths(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        paren, brace = [], []
        for t in texts:
            if t is None:
                paren.append(None)
                brace.append(None)
                continue
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if b.size == 0:
                paren.append(0)
                brace.append(0)
                continue
            # running max of cumsum(+1 open / -1 close); non-ASCII
            # continuation bytes are >= 0x80 and never match the
            # ASCII bracket codes, so byte-level == char-level
            d = np.cumsum((b == 40).astype(np.int64) - (b == 41))
            paren.append(max(int(d.max()), 0))
            d = np.cumsum((b == 123).astype(np.int64) - (b == 125))
            brace.append(max(int(d.max()), 0))
        return pd.DataFrame({"max_paren": paren, "max_brace": brace})

    return spread(df).select(
        "doc_id",
        branches.alias("n_branch_points"),
        F.round(branches.cast("double") / n_lines.cast("double"), 4)
        .alias("branch_density"),
        depths(text).alias("_d"),
    ).select(
        "doc_id", "n_branch_points", "branch_density",
        F.col("_d.max_paren").alias("max_paren_depth"),
        F.col("_d.max_brace").alias("max_brace_depth"),
    )


def function_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           threshold: float = 0.5,
                           max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate FUNCTIONS across the corpus — the granularity at
    which copy-pasted-then-edited helpers actually recur (whole-file
    near-dup misses a shared 30-line helper inside otherwise-different
    files). Composition, not new machinery: extract_functions feeds
    the banded MinHash-LSH + exact-Jaccard verification flow
    (dedup.lsh_verified_pairs), so the 100 TB guarantees carry over
    unchanged (no all-pairs, bucket cap, candidates ~ O(dups)).

    Unit identity is packed as doc_id << 16 | fn_idx so the LSH flow's
    single orderable id survives, then unpacked bitwise on return —
    callers need 0 <= id < 2^47 and < 65536 functions per doc (both
    trivially true for row-numbered corpora; re-key first otherwise).
    Returns (doc_a, fn_a, doc_b, fn_b, jaccard), a < b in packed
    order."""
    from . import dedup

    fns = extract_functions(df, id_col, text_col)
    units = fns.select(
        (F.col(id_col).cast("long") * 65536
         + F.col("fn_idx").cast("long")).alias("doc_id"),
        F.col("fn_text").alias("text"))
    pairs = dedup.lsh_verified_pairs(units, threshold=threshold,
                                     max_bucket_size=max_bucket_size)
    return pairs.select(
        F.shiftright(F.col("id_a"), 16).alias("doc_a"),
        F.col("id_a").bitwiseAND(F.lit(65535).cast("long")).alias("fn_a"),
        F.shiftright(F.col("id_b"), 16).alias("doc_b"),
        F.col("id_b").bitwiseAND(F.lit(65535).cast("long")).alias("fn_b"),
        "jaccard",
    )


# generated-file markers in precedence order (The Stack / StarCoder
# exclude machine-generated files before training; public conventions:
# Go's "DO NOT EDIT", Meta's "@generated", protoc/thrift banners).
# Patterns are contains-matches in the Java-regex/RE2 common subset.
GENERATED_PATTERNS = [
    ("do_not_edit", "DO NOT EDIT"),
    ("at_generated", "@generated"),
    ("code_generated_by", "(?i)code generated by"),
    ("auto_generated", "(?i)auto[- ]?generated|(?i)automatically generated"),
]


def generated_guess_col(text: Column) -> Column:
    """First matching generated-file marker name, else 'none' — a pure
    Column expression so an admission gate can FILTER on it directly
    (same shape as license_guess_col)."""
    name0, pat0 = GENERATED_PATTERNS[0]
    guess = F.when(text.rlike(pat0), F.lit(name0))
    for name, pat in GENERATED_PATTERNS[1:]:
        guess = guess.when(text.rlike(pat), F.lit(name))
    return guess.otherwise(F.lit("none"))


def generated_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, generated_marker, is_generated): machine-generated-file
    screen. One scan, codegen regexp chain — no UDF, no shuffle."""
    marker = generated_guess_col(F.col(text_col))
    return df.select(
        "doc_id",
        marker.alias("generated_marker"),
        (marker != "none").alias("is_generated"),
    )


# per-language line-anchored evidence — each language's characteristic
# statement openers; counts, not booleans, so mixed files vote
_LANG_EVIDENCE = [
    ("py", r"(?m)^[ \t]*(def |class |import |from |elif )"),
    ("go", r"(?m)^[ \t]*(func |package |type [A-Za-z]+ struct)|:="),
    ("js", r"(?m)^[ \t]*(function |const |let |var )|=>|require\("),
    ("java", r"(?m)^[ \t]*(public class |public static |private |"
             r"import [A-Za-z_][A-Za-z0-9_.]*;)"),
    ("rust", r"(?m)^[ \t]*(fn |let mut |impl |pub fn |"
             r"use [A-Za-z_][A-Za-z0-9_]*::)"),
    ("c", r"(?m)^[ \t]*#(include|define|ifdef|ifndef)"),
]

# vote precedence on exact evidence ties — earliest wins
_LANG_ORDER = [("py", "python"), ("go", "go"), ("js", "js"),
               ("java", "java"), ("rust", "rust"), ("c", "c")]


def code_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-based code-language vote (py/go/js family): per-language
    line-anchored keyword evidence counts and the argmax with a fixed
    py > go > js tie precedence ('unknown' when no evidence). The
    metadata-free router a code pipeline needs when the `lang` column
    is missing or lies. One scan, three regexp_extract_all counts —
    exact oracle corpus_code_langs."""
    text = F.col(text_col)
    # '(?d)' Spark-side only: align Java multiline ^ with RE2 (\n-only
    # line starts) so the shared pattern table stays oracle-exact
    ev = {k: F.size(F.regexp_extract_all(text, F.lit("(?d)" + p), 0))
          .cast("long")
          for k, p in _LANG_EVIDENCE}
    # argmax cascade: arm k fires when its count beats every LATER
    # language and is positive — given earlier arms fell through, that
    # is the max with earliest-in-_LANG_ORDER tie precedence (the SQL
    # twin generates the same arms from the same table)
    guess = F.lit("unknown")
    for i in range(len(_LANG_ORDER) - 1, -1, -1):
        k, label = _LANG_ORDER[i]
        cond = ev[k] > 0
        for m, _ in _LANG_ORDER[i + 1:]:
            cond = cond & (ev[k] >= ev[m])
        guess = F.when(cond, label).otherwise(guess)
    return df.select(
        "doc_id",
        *[ev[k].alias(f"{k}_evidence") for k, _ in _LANG_ORDER],
        guess.alias("lang_guess"),
    )


def extract_comments(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """One row per full-line comment: (doc, line_no 0-based, comment
    text with the '#'/'//' marker and one following space stripped) —
    the comment side of the code-comment parallel corpus a code-LM
    pipeline trains docstring/summarization heads on. posexplode keeps
    provenance; blank comment lines ('#' alone) yield empty text and
    are kept (position data). Pure projection, no shuffle."""
    lines = F.split(F.col(text_col), "\n", -1)
    return (
        df.select(F.col(id_col), F.posexplode(lines).alias("line_no", "line"))
        .filter(F.col("line").rlike("^[ \t]*(#|//)"))
        .select(
            id_col, "line_no",
            F.regexp_replace("line", "^[ \t]*(#|//)[ \t]?", "")
            .alias("comment"))
    )
