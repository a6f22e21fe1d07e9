"""Corpus-hygiene operators for LLM training-data pipelines:
benchmark-contamination checks, PII scrubbing, repetition metrics,
and token-length bucketing.

New scope beyond the reference (which has no training-data surface),
in the same style as dedup/sampling/text: every operator is a pure
DataFrame pipeline — candidate generation by semi-join or projection,
no Python in the row path — and every decision arithmetic has an
exact DuckDB twin so the driver's oracle replays it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.datapipe.common import tokens, word_shingles


# ---------------------------------------------------- contamination

def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document benchmark-contamination score: the fraction of the
    document's DISTINCT k-word shingles that also occur anywhere in the
    benchmark set — the standard n-gram-overlap decontamination test
    run before training (docs overlapping an eval set are dropped).

    Returns ``(id, n_shingles, n_hit, overlap)``; docs shorter than k
    words get n_shingles = 0 and overlap 0.0.

    Scale: the benchmark shingle set is eval-sized (thousands of docs),
    not corpus-sized — it is distinct-reduced and BROADCAST so the
    corpus-side pass is map-only: explode shingles, hash-probe the
    broadcast set, one groupBy on doc id.  100 TB of corpus never
    shuffles on shingle.
    """
    c_sh = corpus.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).alias("s"),
    )
    b_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(word_shingles(F.col(text_col), k))
            ).alias("s")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = c_sh.join(F.broadcast(b_sh), "s", "left")
    return joined.groupBy("id").agg(
        F.count("s").alias("n_shingles"),
        F.count("__hit").alias("n_hit"),
        F.when(
            F.count("s") > 0,
            F.round(F.count("__hit") / F.count("s"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("overlap"),
    )


# ------------------------------------------------------- PII scrubbing

# Shared with the DuckDB oracle — plain RE2/Java-common syntax, masking
# order: emails, then phones, then IPs (emails first so digits inside a
# local part are not phone-masked).
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}"
PII_IP_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def pii_scrub(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Mask emails / phone-shaped numbers / IPv4s with placeholder
    tokens: ``(id, clean_text, n_email, n_phone, n_ip)``.

    One codegen projection (regexp_replace/regexp_count are JVM-side),
    so scrubbing 100 TB is a map-only pass; the identical regexes run
    in the DuckDB oracle.
    """
    t = F.col(text_col)
    m1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    m2 = F.regexp_replace(m1, PII_PHONE_RE, "<PHONE>")
    m3 = F.regexp_replace(m2, PII_IP_RE, "<IP>")
    return df.select(
        F.col(id_col).alias("id"),
        m3.alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(m1, F.lit(PII_PHONE_RE)).cast("long").alias("n_phone"),
        F.regexp_count(m2, F.lit(PII_IP_RE)).cast("long").alias("n_ip"),
    )


# --------------------------------------------------- repetition metrics

def repetition_metrics(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``distinct_ratio``: distinct tokens / total tokens;
    - ``top_bigram_frac``: occurrences of the most frequent 2-gram /
      total 2-grams (only the count is extracted, so ties need no
      break — the metric is deterministic and oracle-hashable);
    - ``n_tokens``.

    Highly repetitive documents (boilerplate, keyword stuffing, broken
    crawls) score low distinct_ratio / high top_bigram_frac and are
    filtered before training.  MAP-ONLY (r12): the top-bigram
    multiplicity is the longest equal-run of the doc's SORTED bigram
    array — one ``array_sort`` + one ``aggregate`` fold per row — so
    the whole operator is a single scan-speed projection with ZERO
    shuffles (the previous shape exploded every bigram through two
    hash aggregations and joined the result back on doc id; at 100 TB
    that shuffled the corpus' full bigram stream just to find each
    row's own mode count).  Values are identical: max multiplicity of
    a multiset equals the longest run after sorting.
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("ws")
    )
    base = toks.select(
        "id",
        F.size("ws").alias("n_tokens"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        word_shingles_from_tokens("ws", 2).alias("bigrams"),
    )

    def _run_merge(acc, x):
        # state (prev, run, best): run = current equal-run length,
        # best = longest run seen; eqNullSafe keeps the initial NULL
        # prev from matching any real bigram
        run_new = (
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + F.lit(1))
            .otherwise(F.lit(1))
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run_new.alias("run"),
            F.greatest(acc["best"], run_new).alias("best"),
        )

    top_bg_count = F.aggregate(
        F.array_sort(F.col("bigrams")),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _run_merge,
        lambda acc: acc["best"],
    )
    total_bg = F.size("bigrams")
    return base.select(
        "id",
        F.col("n_tokens").cast("long"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6),
        )
        .otherwise(0.0)
        .alias("distinct_ratio"),
        # a <2-token doc has an EMPTY bigram array -> fold returns 0,
        # size 0 -> frac 0.0 (the rule the old explode + left-join
        # restore implemented)
        F.when(
            total_bg > 0,
            F.round(top_bg_count / total_bg, 6),
        )
        .otherwise(0.0)
        .alias("top_bigram_frac"),
    )


def word_shingles_from_tokens(tokens_col: str, k: int):
    """k-gram array from an existing token-array column (same slicing
    construction as common.word_shingles, shared semantics)."""
    ws = F.col(tokens_col)
    cnt = F.greatest(F.size(ws) - (k - 1), F.lit(0))
    parts = [F.slice(ws, j + 1, cnt) for j in range(k)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )


# --------------------------------------------------- length bucketing

def length_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shard_col: str | None = None,
) -> DataFrame:
    """Power-of-two token-length bucket per document — the standard
    dynamic-batching shaper (batch together docs of similar length so
    padding waste is bounded by 2x).  Returns per-(shard, bucket)
    ``(shard, bucket, n_docs, n_tokens)`` where bucket = 2^ceil(log2
    (len)) and empty docs land in bucket 1.

    Pure projection + one aggregation; the bucket arithmetic
    (int(ceil(log2 n)) via bit length) is exact in both engines.
    """
    n = F.size(tokens(F.col(text_col)))
    bucket = F.when(n <= 1, F.lit(1)).otherwise(
        F.pow(F.lit(2.0), F.ceil(F.log2(n))).cast("long")
    )
    shard = (
        F.col(shard_col) if shard_col is not None else F.lit("all")
    ).alias("shard")
    return (
        df.select(shard, bucket.alias("bucket"), n.alias("n"))
        .groupBy("shard", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
    )


# ------------------------------------------------------- TF-IDF terms

def tfidf_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf:
    ``(id, term, tf, df_count, score)`` with deterministic ordering
    (score desc, term asc).

    tf = term count in doc; idf = ln(N / df); score = tf * idf,
    rounded to 6 decimals for cross-engine hash stability.  Two hash
    aggregations (term counts per doc, document frequency) and one
    per-doc top-k window — the document-frequency table is corpus-wide
    but term-keyed (vocabulary-sized, partial-aggregated map-side).
    """
    from pyspark.sql.window import Window

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_count")
    )
    n_docs = df.select(F.col(id_col)).distinct().count()
    scored = tf.join(dfreq, "term").select(
        "id",
        "term",
        "tf",
        "df_count",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_count")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .drop("rn")
    )


# ------------------------------------------------- filter composition

def corpus_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_distinct_ratio: float = 0.3,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """The standard pre-training keep/drop gate composed from the
    hygiene signals: length band + repetition thresholds (Gopher-style
    rule set).  Returns every doc with its signals, a boolean ``keep``
    and the FIRST failed rule as ``drop_reason`` (null when kept) —
    the audit shape a data pipeline needs (you report WHY documents
    died, not just how many).

    One pass: repetition_metrics is a map-only projection (r12), so
    the whole gate — signals plus rule evaluation — runs at scan speed
    with zero shuffles.
    """
    rep = repetition_metrics(df, text_col, id_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("n_tokens") > max_tokens, F.lit("too_long"))
        .when(
            F.col("distinct_ratio") < min_distinct_ratio,
            F.lit("low_diversity"),
        )
        .when(
            F.col("top_bigram_frac") > max_top_bigram_frac,
            F.lit("repetitive"),
        )
    )
    return rep.select(
        "id",
        "n_tokens",
        "distinct_ratio",
        "top_bigram_frac",
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


def unigram_logprob(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document unigram language-model score — the CCNet-style
    perplexity proxy for quality filtering: ``(id, n_tokens,
    avg_logprob)`` where avg_logprob is the mean natural-log
    probability of the document's tokens under the corpus's own
    unigram distribution.  Documents far below the corpus mode are
    boilerplate / garbled / wrong-language outliers; a pipeline drops
    or downweights the tail.

    Plan: one vocabulary aggregation (term-keyed, partial-aggregated
    map-side), a token->logprob equi-join, one per-doc aggregation —
    two shuffles regardless of corpus size, no Python.  The corpus
    total is the sole driver scalar (same convention as
    tfidf_top_terms' N).  Scores round to 6 decimals for cross-engine
    hash stability; the oracle replays LN(cnt/total) exactly.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    # vocabulary histogram pinned for the pass: the total job below
    # materializes it (ONE corpus explode), and the score join then
    # reads the cached vocab — without the pin the corpus explode
    # re-ran inside every downstream action (total, percentile
    # boundaries, final bucketing: ~5 corpus passes; now 2).  The
    # cached vocab's known (small) size also lets the planner broadcast
    # it, so the token stream is never shuffled for the join.  The
    # scope releases it once the scored frame has materialized.
    with lifecycle.scope(df.sparkSession):
        counts = lifecycle.pin(
            tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")),
            eager=False,
        )
        total = counts.agg(F.sum("cnt")).first()[0]
        logp = counts.select(
            "term",
            F.log(F.col("cnt") / F.lit(float(total))).alias("logp"),
        )
        # per-doc frame (tiny next to the corpus) materialized with an
        # EAGER localCheckpoint: callers that act twice — quantile
        # boundaries then bucket projection — reuse the scored rows
        # instead of re-running the explode + join, and the lineage
        # truncation means both downstream plans analyze against a tiny
        # LogicalRDD instead of the full explode+join subplan (r12
        # interleaved A/B vs a pin: 1.27 s vs 2.08 s median for
        # quality_quantile_buckets).  A NEW RDD per invocation, so a
        # re-run recomputes instead of reading this call's blocks.
        return (
            tok.join(logp, "term")
            .groupBy("id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.round(F.avg("logp"), 6).alias("avg_logprob"),
            )
            .localCheckpoint(eager=True)
        )


def quality_buckets(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 3,
    labels: "list[str] | None" = None,
) -> DataFrame:
    """Quantile-bucket rows by a quality score — the CCNet curation
    move (Wenzek et al. 2020): split the corpus into head/middle/tail
    by LM perplexity, then train on the head, downweight the middle,
    drop the tail.  Adds ``bucket`` (0 = lowest scores) and, when
    ``labels`` is given (lowest bucket first), a ``bucket_label``.

    Scale shape: ONE distributed ``percentile_disc`` aggregate ships
    the n-1 exact boundaries to the driver (n floats — never a global
    sort or a single-partition rank window), then bucketing is a
    map-only literal projection.  Deterministic tie rule: rows equal
    to a boundary fall in the LOWER bucket (percentile_disc returns
    the smallest value whose cumulative rank reaches p; strict ``>``
    comparisons replay identically in any engine).
    """
    if n_buckets < 2:
        raise ValueError("quality_buckets: need n_buckets >= 2")
    if labels is not None and len(labels) != n_buckets:
        raise ValueError(
            f"quality_buckets: {n_buckets} buckets need {n_buckets} labels"
        )
    qs = df.agg(
        *[
            F.expr(
                f"percentile_disc({i / n_buckets}) WITHIN GROUP "
                f"(ORDER BY {score_col})"
            ).alias(f"q{i}")
            for i in range(1, n_buckets)
        ]
    ).first()
    if qs[0] is None:
        # empty input (or all-NULL scores): percentile_disc returns
        # NULL boundaries — emit the schema-stable frame with a NULL
        # bucket rather than crashing on float(None)
        out = df.withColumn("bucket", F.lit(None).cast("int"))
        if labels is not None:
            out = out.withColumn(
                "bucket_label", F.lit(None).cast("string")
            )
        return out
    score = F.col(score_col)
    bucket = None
    for i in range(1, n_buckets):
        step = F.when(
            score > F.lit(float(qs[f"q{i}"])), 1
        ).otherwise(0)
        bucket = step if bucket is None else bucket + step
    # NULL scores get a NULL bucket (every `>` is NULL → the when-chain
    # yields 0 otherwise, which would silently file them as lowest)
    out = df.withColumn(
        "bucket",
        F.when(score.isNull(), F.lit(None)).otherwise(bucket).cast("int"),
    )
    if labels is not None:
        lab = F.array(*[F.lit(x) for x in labels])
        out = out.withColumn(
            "bucket_label", F.element_at(lab, F.col("bucket") + 1)
        )
    return out


def gopher_rules(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, table A1)
    as one MAP-ONLY projection: per-document metrics plus the combined
    ``passes`` verdict.

    Metrics (all computed with JVM higher-order functions on the
    split arrays — zero shuffles, zero Python, so the filter runs at
    full scan speed on 100 TB):

    - ``n_words`` / ``mean_word_len`` — whitespace tokens;
    - ``alpha_word_frac`` — fraction of words containing a letter;
    - ``symbol_word_ratio`` — '#' and '...'/'…' occurrences per word;
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — newline-split
      lines starting with a bullet / ending with an ellipsis;
    - ``dup_line_frac`` / ``dup_line_char_frac`` — duplicate-line and
      duplicate-line-character fractions (array_distinct delta — the
      within-document dedup signal, no explode needed);
    - ``stop_hits`` — DISTINCT members of the 8-word Gopher stop list
      present ('the be to of and that have with').

    ``passes`` applies the paper's thresholds: 50 <= n_words <= 100000,
    3 <= mean_word_len <= 10, symbol_word_ratio <= 0.1,
    bullet_line_frac <= 0.9, ellipsis_line_frac <= 0.3,
    alpha_word_frac >= 0.8, stop_hits >= 2, dup_line_frac <= 0.3,
    dup_line_char_frac <= 0.3.
    """
    text = F.col(text_col)
    words = F.filter(tokens(text), lambda w: w != F.lit(""))
    lines = F.split(text, "\n")
    n_words = F.size(words)
    sum_word_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#")))
    n_ell = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
        + F.length(text) - F.length(F.replace(text, F.lit("…")))
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))
    )
    n_ell_line = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"))
    )
    dlines = F.array_distinct(lines)
    sum_line_len = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    sum_dline_len = F.aggregate(
        dlines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    stops = F.array(*[
        F.lit(s)
        for s in ("the", "be", "to", "of", "and", "that", "have", "with")
    ])
    stop_hits = F.size(
        F.array_intersect(F.transform(words, F.lower), stops)
    )

    def frac(num, den):
        return F.when(den > 0, F.round(num / den, 6)).otherwise(0.0)

    out = df.select(
        F.col(id_col).alias("id"),
        n_words.cast("long").alias("n_words"),
        frac(sum_word_len, n_words).alias("mean_word_len"),
        frac(n_alpha, n_words).alias("alpha_word_frac"),
        frac(n_hash + n_ell, n_words).alias("symbol_word_ratio"),
        frac(n_bullet, n_lines).alias("bullet_line_frac"),
        frac(n_ell_line, n_lines).alias("ellipsis_line_frac"),
        frac(n_lines - F.size(dlines), n_lines).alias("dup_line_frac"),
        frac(sum_line_len - sum_dline_len, sum_line_len).alias(
            "dup_line_char_frac"
        ),
        stop_hits.cast("long").alias("stop_hits"),
    )
    return out.withColumn(
        "passes",
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stop_hits") >= 2)
        & (F.col("dup_line_frac") <= 0.3)
        & (F.col("dup_line_char_frac") <= 0.3),
    )


# ------------------------------------------------- DSIR data selection


def dsir_weights(
    df: DataFrame,
    target: DataFrame | None,
    text_col: str,
    id_col: str,
    buckets: int = 4096,
    target_filter=None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every raw document by how much its hashed n-gram bag looks
    like the TARGET distribution rather than the RAW one —
    ``(id, n_features, avg_llr)`` where avg_llr is the mean, over the
    doc's unigram+bigram features hashed into ``buckets``, of
    ``ln p_target(bucket) - ln p_raw(bucket)`` with Laplace +1
    smoothing.  Selecting the top weights yields a raw subset
    importance-resampled toward the target domain — the standard
    pretraining data-selection pass.

    Plan shape: feature extraction is a map-only explode (unigrams +
    adjacent-word bigrams, hash60 % buckets — same md5 family as every
    other operator, so the oracle replays bit-for-bit); BOTH bucket
    histograms are one partial-aggregated groupBy over at most
    ``buckets`` keys, collected in ONE bounded job per corpus — the
    distribution totals and the per-bucket log-likelihood ratios are
    then computed on the driver from the collected rows (r12: the
    former persist + totals-aggregate + weights-collect sequence was
    2-3 jobs and a cache lifecycle per histogram for arithmetic over
    <= ``buckets`` rows; the r10 version before it re-ran the feature
    explode twice just to count it — at 100 TB the invariant that
    matters is each corpus is read exactly once for the stats).  The
    LLR table is rebuilt as a LocalRelation and broadcast-joins back
    to the feature stream, so the RETURNED plan scans the raw corpus
    exactly once and the target corpus not at all; one final per-doc
    aggregation.  Documents with zero features (empty text) are absent
    from the output.

    Weight magnitudes are data-dependent; consumers rank rather than
    threshold (see the source-quota / quality-bucket operators for the
    rank-based selection idiom).

    ``target_filter`` (a boolean Column over ``df``'s rows, exclusive
    with ``target``) declares the target corpus as a SUBSET of the raw
    one — the common "resample toward my curated slice" shape.  Both
    histograms then come from a SINGLE scan (per-bucket ``rc`` plus a
    conditional ``tc``), identical values to running the two-frame
    path with ``target = df.filter(target_filter)``: the whole
    operator costs two corpus scans instead of three.
    """
    from samyama_graph_spark.datapipe.common import hash60

    if (target is None) == (target_filter is None):
        raise ValueError(
            "dsir_weights: pass exactly one of target / target_filter"
        )

    def feats(frame: DataFrame, flag=None) -> DataFrame:
        toks = tokens(F.col(text_col))
        both = F.concat(
            F.filter(toks, lambda t: t != ""),
            word_shingles(F.col(text_col), 2),
        )
        cols = [F.col(id_col).alias("id"), F.explode(both).alias("ng")]
        if flag is not None:
            cols.append(flag.alias("tgt"))
        out = frame.select(*cols)
        keep = ["id", (hash60(F.col("ng")) % F.lit(buckets)).alias("bucket")]
        if flag is not None:
            keep.append(F.col("tgt"))
        return out.select(*keep)

    import math

    raw_f = feats(df)
    # Stats phase (r12): the histograms are <= ``buckets`` rows by
    # construction, so they are collected ONCE and the totals + LLR
    # arithmetic runs on the driver — the former persist + totals
    # aggregate + weights collect (2-3 jobs and a cached frame per
    # histogram) collapses to one bounded collect per corpus and no
    # cache lifecycle at all.  Totals are exact integer sums either
    # way; ln() on IEEE doubles matches the previous in-plan F.log to
    # the 6-decimal rounding the contract hashes (oracle-verified).
    if target_filter is not None:
        # one histogram job covers BOTH distributions: rc counts every
        # feature row, tc only the rows whose source doc passes the
        # target predicate (count(when) skips false AND null, exactly
        # like the filter would)
        hist_rows = (
            feats(df, flag=target_filter)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("rc"),
                F.count(F.when(F.col("tgt"), 1)).alias("tc"),
            )
            .collect()
        )
        rt = float(sum(r["rc"] for r in hist_rows))
        tt = float(sum(r["tc"] for r in hist_rows))
        weight_rows = [
            (
                r["bucket"],
                math.log((r["tc"] + 1.0) / (tt + buckets))
                - math.log((r["rc"] + 1.0) / (rt + buckets)),
            )
            for r in hist_rows
        ]
    else:
        raw_rows = (
            raw_f.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("rc"))
            .collect()
        )
        tgt_rows = (
            feats(target)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("tc"))
            .collect()
        )
        rt = float(sum(r["rc"] for r in raw_rows))
        tt = float(sum(r["tc"] for r in tgt_rows))
        # every bucket a raw doc references has rc >= 1, so iterating
        # the raw histogram covers all lookups; absent target mass
        # smooths to +1
        tc_by_bucket = {r["bucket"]: r["tc"] for r in tgt_rows}
        weight_rows = [
            (
                r["bucket"],
                math.log(
                    (tc_by_bucket.get(r["bucket"], 0) + 1.0)
                    / (tt + buckets)
                )
                - math.log((r["rc"] + 1.0) / (rt + buckets)),
            )
            for r in raw_rows
        ]
    spark = df.sparkSession
    if weight_rows:
        # an inline VALUES table compiles to a LocalRelation (no
        # Python-RDD conversion node in the plan, constant-foldable,
        # free to broadcast); repr() doubles with the D suffix
        # round-trip bit-exactly through the SQL parser
        vals = ",".join(
            f"({int(b)}L,{llr!r}D)" for b, llr in weight_rows
        )
        weights = spark.sql(
            f"SELECT * FROM VALUES {vals} AS t(bucket, llr)"
        )
    else:
        weights = spark.createDataFrame([], "bucket bigint, llr double")
    return (
        raw_f.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.round(F.avg("llr"), 6).alias("avg_llr"),
        )
    )


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    keep: int,
    buckets: int = 4096,
) -> DataFrame:
    """The selection half of DSIR: keep the ``keep`` raw documents
    whose hashed-n-gram importance weight is highest (deterministic
    ties by id).  The top-k runs as TakeOrderedAndProject (per-
    partition heaps, no global sort shuffle and no single-task window
    rank); the kept id set then semi-joins the corpus, so the pass
    stays linear."""
    w = dsir_weights(df, target, text_col, id_col, buckets)
    ranked = (
        w.orderBy(F.desc("avg_llr"), F.asc("id")).limit(keep).select("id")
    )
    return df.join(
        ranked, df[id_col] == ranked["id"], "left_semi"
    )
