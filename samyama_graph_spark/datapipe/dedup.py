"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding near-dup.

Every operator is a DataFrame pipeline whose candidate generation is
a blocking/bucketing join — the property that makes it viable at
100TB (no all-pairs stage ever materializes).  Hashes come from
common.hash60 so the whole pipeline is reproducible in any engine
with md5 (the driver's DuckDB oracle re-runs it verbatim).
"""

from __future__ import annotations

import functools
import operator as op

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.loaders import read_parquet
from samyama_graph_spark.datapipe.common import (
    hash60,
    hash_family_member,
    word_shingles,
)

# Largest normalized-codebook size (k*dim doubles) _assign_clusters
# inlines as a SQL-literal fold for its Lloyd-ROUND grid passes;
# larger codebooks stay on the broadcast+matmul path.
_LITERAL_ROUND_MAX = 16384


# pin owner of every dedup operator: each operator releases it before
# its first pin, so only the latest invocation's pins stay cached
_OWNER = "dedup"


# ------------------------------------------------------------------ exact


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: ``(content_hash, keep_id, n_dups)``.

    keep_id is the minimum id of each duplicate group (deterministic
    survivor selection).  One shuffle on the 60-bit content hash.
    """
    return (
        df.select(hash60(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ------------------------------------------------------- shingle foundation


def shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per doc: ``(id, shingle)``.

    Dedup happens inside the row (``array_distinct`` before the
    explode): ids are unique per doc, so per-doc set semantics are
    identical to a global ``distinct()`` — without shuffling the
    entire exploded (id, shingle) set.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).alias("shingle"),
    )


def _pair_jaccard(
    shingles: DataFrame, pairs: DataFrame, on_hash: bool = False,
    hashed: bool = False,
) -> DataFrame:
    """True Jaccard for candidate pairs: ``(x, y, jacc)``.

    |A∩B| via a shingle-equality join restricted to candidate pairs,
    |A∪B| = |A|+|B|-|A∩B|.  The semi-join onto candidates keeps the
    shingle join linear in candidate count, not quadratic in docs.

    ``on_hash=True`` joins on the 60-bit shingle hash instead of the
    shingle string — 8-byte shuffle keys instead of full n-grams.
    Use when the caller already pays for the md5 pass (MinHash);
    equality is exact up to 2^-60 collisions, replayed identically by
    the oracle.  ``hashed=True`` means ``shingles`` already carries the
    hash as column ``sk`` (e.g. a pinned ``(id, sk)`` frame) — no
    re-hash at all.
    """
    if hashed:
        key = F.col("sk")
    else:
        key = hash60(F.col("shingle")).alias("sk") if on_hash else F.col(
            "shingle"
        ).alias("sk")
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col("id").alias("x"), key)
    b = shingles.select(F.col("id").alias("y"), key)
    inter = (
        a.join(pairs, "x")
        .join(b, ["y", "sk"])
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "x").withColumnRenamed("n", "nx"), "x")
        .join(sizes.withColumnRenamed("id", "y").withColumnRenamed("n", "ny"), "y")
        .select(
            "x",
            "y",
            (F.col("i") / (F.col("nx") + F.col("ny") - F.col("i"))).alias("jacc"),
        )
    )


# ------------------------------------------------------------ MinHash + LSH


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """Per-doc MinHash signature: ``(id, mh0..mh{n-1})``.

    ONE md5 per shingle (the dominant cost) + a universal-hash mixing
    family (common.hash_family_member) for the num_hashes independent
    permutation surrogates, then one grouped min-aggregation — a
    single shuffle on doc id with map-side combine.
    """
    return _signatures_from_hashed(
        shingles.select("id", hash60(F.col("shingle")).alias("sk")),
        num_hashes,
    )


def _signatures_from_hashed(
    hashed: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """MinHash signatures from a pre-hashed ``(id, sk)`` shingle frame —
    the shape :func:`minhash_lsh_pairs` pins so the md5 pass runs once
    for signatures, sizes, and both verification legs."""
    base = F.col("sk")
    fam = hashed.select(
        "id",
        *[
            hash_family_member(base, i).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return fam.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )


def lsh_candidates(
    sigs: DataFrame, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Banded-LSH candidate pairs ``(x, y)`` (x < y).

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing all minhashes in any band land in the same bucket.
    Bucket join is an equi-join on the band struct — shuffle by bucket,
    never all-pairs.
    """
    buckets = band_buckets(sigs, num_hashes, bands)
    l = buckets.select(F.col("id").alias("x"), "bkt")
    r = buckets.select(F.col("id").alias("y"), "bkt")
    return (
        l.join(r, "bkt")
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline:
    shingle -> minhash -> band-bucket -> candidate join -> exact-Jaccard
    verification.  Returns ``(x, y, jacc)`` with jacc >= threshold.

    Per-doc shingle-set sizes ride INSIDE the signature aggregate (one
    extra count over the same groupBy) and travel with the band-bucket
    rows into the candidate stream, so the Jaccard denominator needs no
    size joins at all — |A∩B| comes from the verification join, |A|/|B|
    are already on the candidate row.  That deletes two of the former
    six scan+explode subtrees and both size-join shuffles (r11; plan
    asserted in test_plans).

    Deliberately UNPINNED: an r11 A/B at sf0.1 measured every pin
    variant WORSE warm (pin both/hashed/sigs: 2.3-2.9 s vs 1.6-2.0 s
    unpinned) — the eager materialization is a sync point plus an
    extra scheduled job, while the redundant subtrees execute in
    parallel across idle cores.  At warehouse scale the calculus flips
    (four corpus scans vs one); there, persist the ``(id, sk)`` stream
    via :func:`_signatures_from_hashed` + :func:`_pair_jaccard(hashed=)`
    exactly like :func:`minhash_incremental_pairs` persists its index."""
    sh = shingle_sets(df, text_col, id_col, k)
    hashed = sh.select("id", hash60(F.col("shingle")).alias("sk"))
    sigs = hashed.select(
        "id",
        "sk",
        *[
            hash_family_member(F.col("sk"), i).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    ).groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(num_hashes)],
        F.count(F.lit(1)).alias("__n"),
    )
    # the sizes are functionally dependent on the ids, so the distinct
    # over (x, y, nx, ny) has exactly the (x, y) cardinality
    buckets = band_buckets(sigs, num_hashes, bands, carry=("__n",))
    l = buckets.select(F.col("id").alias("x"), F.col("__n").alias("nx"), "bkt")
    r = buckets.select(F.col("id").alias("y"), F.col("__n").alias("ny"), "bkt")
    cand = (
        l.join(r, "bkt")
        .filter(F.col("x") < F.col("y"))
        .select("x", "y", "nx", "ny")
        .distinct()
    )
    a = hashed.select(F.col("id").alias("x"), "sk")
    b = hashed.select(F.col("id").alias("y"), "sk")
    inter = (
        a.join(cand, "x")
        .join(b, ["y", "sk"])
        .groupBy("x", "y", "nx", "ny")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return inter.select(
        "x",
        "y",
        (F.col("i") / (F.col("nx") + F.col("ny") - F.col("i"))).alias(
            "jacc"
        ),
    ).filter(F.col("jacc") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Exhaustive-within-block n-gram Jaccard pairs (the exact
    baseline LSH approximates).  ``block_cols`` restricts comparisons
    to equal blocking keys; with none, candidates are pairs sharing at
    least one shingle (still a shingle-equality join, not a cross
    join — docs with zero overlap never pair, their Jaccard is 0).
    """
    # Blocking keys and the per-doc set SIZE both ride the shingle rows
    # (id is unique per source row, so carrying them through the
    # explode equals the former join back to a keys projection / size
    # aggregate while skipping those joins entirely).  The array is
    # materialized in its own projection so the explode and the size
    # read one computed column instead of re-running the shingle
    # transform per expression.
    bc = block_cols or []
    arr = df.select(
        F.col(id_col).alias("id"),
        *bc,
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("__a"),
    )
    sh = arr.select(
        "id", *bc, F.size("__a").alias("n"), F.explode("__a").alias("shingle")
    )
    # Deliberately UNPINNED (r12), like minhash_lsh_pairs: both join
    # legs recompute the shingle expansion inside ONE job, and an
    # interleaved A/B measured that strictly faster than pinning at
    # gate scale (no-pin 1.13 s vs pin 1.92 s median, sf0.1) AND at
    # 10x data (10.7 vs 22.1 s) — the cache materialization is a sync
    # point plus a full write of the exploded strings, while the
    # redundant explode subtrees run in parallel on idle cores.  (The
    # pre-r12 bare `cache()` here was also never released, so its
    # warm numbers were cross-run cache reads, not evidence.)
    # Candidates come from the shingle-equality join (pairs with zero
    # overlap have Jaccard 0 and can never pass threshold > 0), so
    # cost is O(sum per-shingle doc-count^2) — sparse — rather than
    # O(block_size^2) cross-pairs.  The SAME join yields |A∩B| — one
    # matched row per common shingle — so the groupBy does double duty
    # as candidate-dedup and intersection count; no re-join against
    # the shingle table afterwards.  Blocking keys are part of the
    # EQUI-JOIN key (not a post-join filter): the join matcher then
    # never emits cross-block pairs at all.
    a = sh.select(
        F.col("id").alias("x"), F.col("n").alias("nx"), "shingle", *bc
    )
    b = sh.select(
        F.col("id").alias("y"), F.col("n").alias("ny"), "shingle", *bc
    )
    inter = (
        a.join(b, ["shingle", *bc])
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y", "nx", "ny")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return inter.select(
        "x",
        "y",
        (F.col("i") / (F.col("nx") + F.col("ny") - F.col("i"))).alias(
            "jacc"
        ),
    ).filter(F.col("jacc") >= threshold)


# ------------------------------------------------- exact substring spans


def substring_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    sample: int = 1,
) -> DataFrame:
    """Cross-document EXACT substring-span detection: every k-token
    window shared verbatim by two documents -> one row
    ``(id_a, pos_a, id_b, pos_b, shingle)`` with ``id_a < id_b``.
    The span-level complement of the document-level dedup family
    (exact/MinHash/SimHash/SemDeDup): catches repeated boilerplate,
    licenses, and quoted passages inside otherwise-distinct documents
    — the signal exact-substring dedup removes from LLM training
    corpora (Lee et al. 2022 dedup C4/RealNews at ~50-token
    granularity with a suffix array; fixed-k windows + a fingerprint
    join are the shuffle-friendly distributed equivalent).

    ``sample`` > 1 keeps only windows whose md5-prefix mod ``sample``
    is 0 — deterministic content-keyed 0-mod-p fingerprinting: ~1/
    sample of positions survive, and because BOTH documents sample
    identical positions of identical content, any shared run of
    >= k + sample tokens is still caught with high probability.

    Scale posture: one explode to (n_tokens - k + 1) windows per doc
    (the sequence/transform/slice HOFs stay JVM-side), a map-side
    sample filter, then ONE equi-join keyed on xxhash64(shingle) —
    8-byte shuffle keys — with the shingle strings compared inside
    the join condition (matches are verified, never hash-only).  No
    all-pairs stage; density is the ``sample`` knob, exactly how the
    reference corpora runs control suffix-array granularity.

    Deliberately UNPINNED, like minhash_lsh_pairs: an r12 interleaved
    A/B of pinning the hashed-window stream measured the pin STRICTLY
    WORSE at BOTH gate scale (sf0.1: pin ~6.0-6.8 s vs recompute
    median ~1.1-3.6 s) and 10x data (pin median 5.0 s vs recompute
    3.25 s) — caching the exploded window strings costs more than the
    second explode leg, whose subtree runs in parallel on idle cores.
    The join strategy is also a measured choice: Catalyst broadcasts
    the exploded leg off an underestimate, and forcing SMJ was ~1.6x
    slower warm (1.7 vs 1.08 median, interleaved) — at warehouse
    scale the (input-proportional) estimate crosses the broadcast
    threshold and the same plan degrades gracefully to SMJ."""
    words = F.split(F.col(text_col), " ")
    idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(0), F.size(words) - k)
    ).otherwise(F.expr("array()").cast("array<int>"))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))
    )
    sh = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles).alias("pos", "shingle"),
    )
    if sample > 1:
        pref = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast(
            "long"
        )
        sh = sh.filter(pref % sample == 0)
    sh = sh.withColumn("fp", F.xxhash64("shingle"))
    a = sh.select(
        F.col("id").alias("id_a"), F.col("pos").alias("pos_a"),
        F.col("shingle").alias("__sh_a"), "fp",
    )
    b = sh.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pos_b"),
        F.col("shingle").alias("shingle"), "fp",
    )
    return (
        a.join(b, "fp")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__sh_a") == F.col("shingle"))
        )
        .select("id_a", "pos_a", "id_b", "pos_b", "shingle")
    )


def strip_duplicate_spans(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Remove duplicated spans in place: for every shared window found
    by :func:`substring_span_pairs`, drop the covered tokens from the
    HIGHER-id document of the pair (one occurrence of each duplicated
    passage survives, in the lowest-id doc — the removal rule of
    exact-substring training-data dedup).  Returns ``df`` with
    ``text_col`` rewritten and a ``dropped_tokens`` count per doc.

    Scale shape: non-victim documents pass through untouched (one
    anti-join, no explode); victims explode to (doc, token-position)
    once, anti-join the covered-position set, and reassemble with a
    JVM-side sort+transform aggregate — no Python in the hot path, two
    shuffles (the position anti-join and the per-doc regroup)."""
    victims = pairs.select(F.col("id_b").alias("__vid")).distinct()
    covered = (
        pairs.select(
            F.col("id_b").alias("__vid"),
            F.explode(
                F.sequence(F.col("pos_b"), F.col("pos_b") + F.lit(k - 1))
            ).alias("__tp"),
        )
        .distinct()
    )
    keyed = df.withColumn("__vid", F.col(id_col))
    untouched = keyed.join(victims, "__vid", "left_anti").drop(
        "__vid"
    ).withColumn("dropped_tokens", F.lit(0).cast("long"))
    vdocs = keyed.join(victims, "__vid", "left_semi")
    toks = vdocs.select(
        "__vid",
        F.posexplode(F.split(F.col(text_col), " ")).alias("__tp", "__w"),
    )
    kept = toks.join(covered, ["__vid", "__tp"], "left_anti")
    rebuilt = kept.groupBy("__vid").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__tp", "__w"))
                ),
                lambda s: s["__w"],
            ),
        ).alias("__new_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    out_victims = (
        vdocs.withColumn(
            "__ntok", F.size(F.split(F.col(text_col), " "))
        )
        .join(rebuilt, "__vid", "left")
        .withColumn(
            text_col, F.coalesce(F.col("__new_text"), F.lit(""))
        )
        .withColumn(
            "dropped_tokens",
            (F.col("__ntok") - F.coalesce(F.col("__kept"), F.lit(0))).cast(
                "long"
            ),
        )
        .drop("__vid", "__new_text", "__kept", "__ntok")
    )
    return untouched.unionByName(out_victims)


def maximal_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_len: int = 50,
) -> DataFrame:
    """MAXIMAL cross-document duplicated substrings at ANY token
    offset: one row ``(id_a, start_a, id_b, start_b, span_len)`` per
    maximal verbatim shared run of >= ``min_len`` tokens (``id_a <
    id_b``).  This is the suffix-array granularity of Lee et al. 2022
    (arXiv:2107.06499 dedup C4/RealNews by removing any repeated
    substring of >= 50 tokens, at arbitrary offsets): where
    :func:`substring_span_pairs` emits each shared k-token WINDOW,
    this operator merges runs of window hits into whole duplicated
    passages and reports their exact extent — the unit the paper's
    removal rule operates on.

    Equivalence: a run of L >= min_len shared tokens produces window
    hits at L-k+1 consecutive positions on one (id_a, id_b,
    pos_a - pos_b) DIAGONAL, and conversely consecutive verified
    windows on a diagonal overlap k-1 tokens, so their union is one
    verbatim shared run — island-merging the diagonals is exact, no
    suffix array needed.

    Scale shape: the window miner's one explode + fingerprint
    equi-join (every match string-verified), then ONE additional
    shuffle: a window partitioned by (id_a, id_b, diagonal) whose
    row_number turns consecutive positions into island keys (the
    classic gaps-and-islands rewrite), and a groupBy over the same
    key extent.  Both stages key on pair-diagonals — millions of tiny
    groups, no skew pivot, no driver state.  Window-hit volume is
    linear in total shared-run length; the ``sample`` knob is
    deliberately NOT offered here because island merging needs every
    consecutive hit (a sampled variant would report fragmented
    spans)."""
    from pyspark.sql import Window

    if min_len < k:
        raise ValueError(f"min_len {min_len} must be >= k {k}")
    hits = substring_span_pairs(df, text_col, id_col, k=k, sample=1)
    diag = (F.col("pos_a") - F.col("pos_b")).alias("__diag")
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pos_a")
    islands = hits.select("id_a", "pos_a", "id_b", "pos_b", diag).withColumn(
        "__isl", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        islands.groupBy("id_a", "id_b", "__diag", "__isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("id_a", "start_a", "id_b", "start_b", "span_len")
    )


# ----------------------------------------------------------------- SimHash

SIMHASH_BITS = 60  # fits hash60's positive range


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash per doc: ``(id, sim)``.

    Bit b of the signature is set iff the MAJORITY of the doc's
    distinct tokens hash with bit b set (``2 * cnt_b > n_tokens``) —
    exactly the classic sign-of-±1-sum (sum = 2*cnt - n > 0).

    MAP-ONLY: the signature is a pure function of one row's token
    array, so it is computed per row with SQL higher-order functions —
    hash each distinct token once, fold the per-bit set counts into a
    61-slot accumulator (60 bit counters + the token count), then pack
    the majority votes into one long.  Zero shuffles, zero explode:
    at corpus scale this replaces a full shuffle of the (doc, token)
    stream with embarrassingly-parallel scan work.  (The previous
    explode + 60-column groupBy formulation measured 2.1-3.3 s at
    sf0.1 for the signature pass alone; this runs in ~0.4 s with
    bit-identical output.)
    """
    # token hash must stay in lockstep with hash60()/hash60_sql() —
    # written as an expr string because a lambda-bound shift amount
    # (`shiftright(h, i)` with i the fold index) is expressible in SQL
    # but not through the PySpark shiftright wrapper (int-only arg).
    # The whole signature is ONE self-contained expression: the bit
    # counts bind to the lambda variable `c` (transform over a
    # singleton array) so they are computed exactly once per row even
    # when Catalyst's projection collapse inlines `sim` into several
    # downstream expressions — a two-select formulation measured
    # O(references) token-fold re-evaluations after collapse.
    hash_sql = "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
    n_slot = SIMHASH_BITS + 1  # 1-based element_at: slot 61 = n_tokens
    sim = F.expr(
        f"""
        element_at(transform(
          array(
            aggregate(
              transform(array_distinct(split(`{text_col}`, ' ')),
                        t -> {hash_sql}),
              array_repeat(cast(0 as bigint), {n_slot}),
              (acc, h) -> transform(
                acc,
                (a, i) -> if(i < {SIMHASH_BITS},
                             a + (shiftright(h, i) & 1),
                             a + 1))
            )
          ),
          c -> aggregate(
            sequence(0, {SIMHASH_BITS - 1}),
            cast(0 as bigint),
            (sim, b) -> sim + if(
              element_at(c, b + 1) * 2 > element_at(c, {n_slot}),
              shiftleft(cast(1 as bigint), b),
              cast(0 as bigint))
          )
        ), 1)
        """
    )
    # NULL-text docs must be absent from the output, matching the
    # explode+groupBy formulation this replaced (explode of a NULL
    # array emits no rows).  The HOF fold would otherwise emit sim=0
    # for them: SQL `if` over the NULL-propagated accumulator treats
    # the NULL condition as false at every step, so the fold lands on
    # the zero element, not NULL.  Filtering the text column (not the
    # signature) also pushes the predicate into the scan.
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), sim.alias("sim")
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 6,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs ``(x, y, hamming)`` with hamming <= max.

    Candidate generation by the pigeonhole principle: split the
    signature into ``chunks`` bit-ranges; any pair within
    max_hamming <= chunks*(chunk tolerance) shares at least one exact
    chunk when max_hamming < chunks, and in general bucketing by each
    chunk catches pairs differing in fewer than ``chunks`` chunks.
    Bucket-join per chunk, then exact popcount(xor) verification.
    """
    # Deliberately UNPINNED (r12): the bucket self-join computes the
    # signature fold on both legs inside ONE job, which an interleaved
    # A/B measured strictly faster than pinning (sf0.1: 0.98 vs
    # 1.32 s median; 10x data: 5.7 vs 7.8 s) — the r11 single-fold
    # signature is collapse-safe (one evaluation per row), so the
    # old 80 s inline-per-reference hazard the pin guarded against is
    # gone, and the cache build cost more than the second map leg.
    sig = simhash(df, text_col, id_col)
    cand = _simhash_candidates(sig, chunks).select(
        "x", "y", "sx", "sy"
    ).distinct()
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sx").bitwiseXOR(F.col("sy")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("x", "y", "hamming")
    )


def _simhash_candidates(sig: DataFrame, chunks: int) -> DataFrame:
    """Pigeonhole bucket-join candidate stream ``(x, y, sx, sy)`` with
    ONE ROW PER SHARED CHUNK (multiplicity = number of equal chunks):
    the single source of the chunking/bucketing layout for both the
    distinct pair path and the weighted-count stats path."""
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    chunk_cols = [
        F.struct(
            F.lit(c).alias("c"),
            F.shiftright(F.col("sim"), c * width)
            .bitwiseAND(F.lit(mask))
            .alias("v"),
        )
        for c in range(chunks)
    ]
    buckets = sig.select(
        "id", "sim", F.explode(F.array(*chunk_cols)).alias("bkt")
    )
    l = buckets.select(F.col("id").alias("x"), F.col("sim").alias("sx"), "bkt")
    r = buckets.select(F.col("id").alias("y"), F.col("sim").alias("sy"), "bkt")
    return l.join(r, "bkt").filter(F.col("x") < F.col("y"))


# ------------------------------------------------------ embedding near-dup


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    num_tables: int = 4,
    num_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    exact_all_pairs: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ``(x, y, cos)`` with cos >= threshold.

    Candidate generation is always a bucket equi-join:

    - ``block_col`` given: exhaustive within the caller's blocks;
    - otherwise (the default): random-hyperplane LSH blocking —
      ``num_tables`` signature tables of ``num_planes`` bits each,
      pairs colliding in ANY table are scored exactly.  Approximate:
      a pair whose vectors land in different buckets in every table is
      missed; raise ``num_tables`` for recall.
    - ``exact_all_pairs=True``: explicit opt-in to the exhaustive
      O(n²) self-join — small frames only, never the default (an
      all-pairs join on a constant key is a scale-killer).

    Dot products via zip_with/aggregate HOFs in double precision.
    """
    from samyama_graph_spark.datapipe.similarity import (
        _hyperplanes,
        lsh_bucket,
    )

    vec = F.col(vec_col).cast("array<double>")
    if block_col is not None:
        blk = F.col(block_col)
    elif exact_all_pairs:
        blk = F.lit(0)
    else:
        if dim is None:
            # max over the frame, not first(): an arbitrary NULL first
            # row would silently collapse every hyperplane to dim=1
            # (near-random buckets, silent recall loss)
            row = df.agg(F.max(F.size(F.col(vec_col))).alias("d")).first()
            if row is None or row["d"] is None:
                raise ValueError(
                    "embedding_near_dups: cannot infer vector dim "
                    f"(no non-null {vec_col!r} values); pass dim="
                )
            dim = int(row["d"])
        tables = [
            _hyperplanes(dim, num_planes, seed + 1000 * t)
            for t in range(num_tables)
        ]
        # blk = array of (table, bucket) structs, exploded below so the
        # join key is a plain column (equi-join per table)
        blk = F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    lsh_bucket(vec, tables[t]).alias("b"),
                )
                for t in range(num_tables)
            ]
        )
    from samyama_graph_spark.datapipe.similarity import dot, norm

    # per-ROW norm computed once before the pair join: scoring a pair
    # is then a single zip_with dot instead of dot + two norms — at k
    # candidates per row that is 3x less HOF work, and the value is
    # bit-identical (same subexpressions, same order)
    base = df.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        norm(vec).alias("nrm"),
        blk.alias("blk"),
    )
    if block_col is None and not exact_all_pairs:
        base = base.select("id", "v", "nrm", F.explode("blk").alias("blk"))
    a = base.select(
        F.col("id").alias("x"), F.col("v").alias("vx"),
        F.col("nrm").alias("nx"), "blk",
    )
    b = base.select(
        F.col("id").alias("y"), F.col("v").alias("vy"),
        F.col("nrm").alias("ny"), "blk",
    )
    out = (
        a.join(b, "blk")
        .filter(F.col("x") < F.col("y"))
        .select(
            "x",
            "y",
            (dot(F.col("vx"), F.col("vy")) / (F.col("nx") * F.col("ny"))).alias(
                "cos"
            ),
        )
        .filter(F.col("cos") >= threshold)
    )
    if block_col is None and not exact_all_pairs:
        # a pair may collide in several tables: dedup the small scored
        # (x, y, cos) triple, never the vectors
        out = out.distinct()
    return out


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: "int | None" = 16,
    threshold: float = 0.95,
    iters: int = 0,
    seed_ids: "list[int] | None" = None,
    centroid_mode: str = "vectorized",
    target_cluster_size: "int | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then EXACT cosine dedup within each cluster and
    keep one representative per semantic-duplicate group.

    Differs from ``embedding_near_dups`` (LSH-bucketed pair mining):
    here candidate scope is a learned partition of the space, the
    within-cluster search is exhaustive, and the output is a per-row
    keep/drop verdict rather than raw pairs — the shape used for
    pruning web-scale corpora before LLM training.

    Clustering: centroids seeded from the ``k`` lowest-id vectors
    (deterministic, so the whole operator replays bit-for-bit in the
    DuckDB oracle when ``iters=0``), optionally refined by ``iters``
    Lloyd rounds — each round is ONE map-side assignment pass plus one
    (cluster, dim)-grid aggregate; centroids live on the driver like
    the reference's PQ codebooks (vector/index.rs), k*dim floats.

    Scale shape: assignment broadcasts k centroids and is map-only;
    the dedup join is an equi-join on cluster id (never all-pairs);
    the survivor rule (lowest id of each within-cluster near-dup
    group) is a connected-components pass over pairs bounded by dup
    volume.  Returns ``(id, cluster, keep)``.

    ``centroid_mode`` accepts only ``'vectorized'``; the assignment is
    :func:`_assign_clusters`.

    SCALE WARNING — ``k`` must grow with the corpus: the
    within-cluster exact stage is O(n^2 / k) pairs, so a FIXED k makes
    the operator quadratic in n (measured 49x wall at 10x data with
    k=16 vs 5.4x with k scaled 10x — BENCH_NOTES round 7).  The paper
    runs k ~ 10^4-10^5 precisely to hold cluster size constant.  Pass
    ``target_cluster_size`` (with ``k=None``) to derive
    k = ceil(n / target) from one count job — the parameterization
    that stays linear as data grows.
    """
    from samyama_graph_spark.datapipe.similarity import dot

    # a one-value keyword: the benchmark's curation stage still passes it
    if centroid_mode != "vectorized":
        raise ValueError(f"semdedup: unknown centroid_mode {centroid_mode!r}")
    base, k = _kmeans_base(
        df, vec_col, id_col, k, target_cluster_size, "semdedup"
    )

    assigned = _assign_clusters(base, k, iters, seed_ids)
    # three consumers below (both pair legs + the verdict join-back):
    # without the pin each re-runs the full assignment — three
    # scan+matmul passes
    lifecycle.release(assigned.sparkSession, _OWNER)
    assigned = lifecycle.pin(assigned, _OWNER)

    a = assigned.select(
        F.col("id").alias("x"), F.col("v").alias("vx"),
        F.col("nrm").alias("nx"), "cluster",
    )
    b = assigned.select(
        F.col("id").alias("y"), F.col("v").alias("vy"),
        F.col("nrm").alias("ny"), "cluster",
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("x") < F.col("y"))
        .select(
            "x",
            "y",
            (
                dot(F.col("vx"), F.col("vy")) / (F.col("nx") * F.col("ny"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    comp = _components_from_pairs(pairs)  # (id, component=min id)
    return (
        assigned.select("id", "cluster")
        .join(comp.select(F.col("id"), F.col("component")), "id", "left")
        .select(
            "id",
            "cluster",
            (
                F.col("component").isNull()
                | (F.col("component") == F.col("id"))
            ).alias("keep"),
        )
    )


def _kmeans_base(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: "int | None",
    target_cluster_size: "int | None",
    op: str,
) -> "tuple[DataFrame, int]":
    """The ``(id, v, nrm)`` frame :func:`_assign_clusters` reads, and
    k — given, or ``ceil(n / target_cluster_size)`` from one count job.
    ``op`` names the caller in its errors."""
    from samyama_graph_spark.datapipe.similarity import norm

    if target_cluster_size is not None:
        if k is not None:
            raise ValueError(
                f"{op}: pass either k or target_cluster_size, not both"
            )
        n_rows = df.count()
        k = max(1, -(-n_rows // int(target_cluster_size)))
    elif k is None:
        raise ValueError(f"{op}: k or target_cluster_size required")
    vec = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        vec.alias("v"),
        norm(vec).alias("nrm"),
    )
    return base, k


def kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: "int | None" = None,
    iters: int = 2,
    seed_ids: "list[int] | None" = None,
    target_cluster_size: "int | None" = None,
) -> DataFrame:
    """Spherical k-means over an embedding column: ``(id, cluster)``.

    The clustering SemDeDup uses (Abbas et al. 2023 run it at
    k ~ 10^4-10^5 to partition web-scale corpora), exposed as a
    first-class operator — domain balancing, stratified curation, and
    per-cluster sampling all start from exactly this assignment.
    Deterministic: centroids seed from the ``k`` lowest-id vectors
    (or ``seed_ids``), assignment is cosine argmax with ties to the
    lower cluster id, Lloyd rounds recompute the (cluster, dim) mean
    grid distributed (empty clusters keep their centroid).

    Scale shape (see :func:`_assign_clusters`): assignment is
    map-only; each Lloyd round adds one grid aggregate whose output is
    k x dim floats.  Pass ``target_cluster_size`` (with ``k=None``) to
    derive k from one count job — the parameterization that keeps
    downstream per-cluster work flat as the corpus grows.
    """
    base, k = _kmeans_base(
        df, vec_col, id_col, k, target_cluster_size, "kmeans"
    )
    out = _assign_clusters(base, k, iters, seed_ids)
    return out.select("id", F.col("cluster").cast("long").alias("cluster"))


def _assign_clusters(
    base: DataFrame, k: int, iters: int, seed_ids: "list[int] | None"
) -> DataFrame:
    """Spherical k-means assignment shared by :func:`semdedup` and
    :func:`kmeans`: ``base`` is (id, v, nrm), and the result adds an int
    ``cluster``.  Centroids seed from the ``k`` lowest-id vectors (or
    ``seed_ids``) and live on the driver as a k×dim numpy codebook,
    like the reference's PQ codebooks (vector/index.rs).

    The final assignment ships the normalized codebook through
    ``sparkContext.broadcast`` and runs one BLAS matmul + argmax per
    Arrow batch inside ``mapInPandas``: map-only (zero exchanges), and
    the plan size does not grow with k.  Cosine argmax with ties to the
    LOWER cluster id: row norms cancel in the argmax, centroid norms
    are divided out of the matrix once, and numpy argmax takes the
    first (lowest-index) maximum.

    Each Lloyd round recomputes the (cluster, pos) mean grid
    distributed and collects its k×dim floats to the driver; empty
    clusters keep their previous centroid.  A round assigns by the
    same rule.  When the normalized codebook fits a SQL literal
    (k*dim <= ``_LITERAL_ROUND_MAX``) it is the single-fold argmax
    expression of ``similarity.ivf_assign`` with a strict ``>``, so the
    grid job runs in JVM codegen with no Python workers and no
    per-round broadcast (interleaved A/B at sf0.1, k=8 x dim 64: median
    2.24 s -> 1.58 s for the kmeans gate entry; 0/2000 assignments
    differ).  Larger codebooks assign each round by the broadcast
    matmul (a 10^5 × dim literal would be a ~100 MB SQL string)."""
    import numpy as np

    if seed_ids is None:
        seeds = base.orderBy("id").limit(k).collect()
    else:
        want = base.filter(F.col("id").isin([int(s) for s in seed_ids]))
        seeds = sorted(want.collect(), key=lambda r: r["id"])
    C = np.array([list(r["v"]) for r in seeds], dtype=np.float64)

    spark = base.sparkSession
    out_schema = "id long, v array<double>, nrm double, cluster int"

    def assign(frame: DataFrame, C: "np.ndarray"):
        cn = np.linalg.norm(C, axis=1)
        bc = spark.sparkContext.broadcast(
            C / np.where(cn == 0.0, 1.0, cn)[:, None]
        )

        def fn(batches):
            M = bc.value
            for pdf in batches:
                pdf = pdf.copy()
                if len(pdf) == 0:
                    pdf["cluster"] = np.array([], dtype="int32")
                    yield pdf
                    continue
                V = np.array(pdf["v"].tolist(), dtype=np.float64)
                pdf["cluster"] = np.argmax(V @ M.T, axis=1).astype("int32")
                yield pdf

        return frame.mapInPandas(fn, out_schema), bc

    def assign_round(frame: DataFrame, C: "np.ndarray") -> DataFrame:
        # JVM single-fold argmax over the normalized codebook literal:
        # argmax_i cos(v, c_i) = argmax_i dot(v, c_i/|c_i|), strict `>`
        # keeps the earlier (lower-index) centroid — numpy argmax's
        # first-maximum rule.  Same expression shape as
        # similarity.ivf_assign (O(1) expression nodes).
        cn = np.linalg.norm(C, axis=1)
        M = C / np.where(cn == 0.0, 1.0, cn)[:, None]
        rows = [
            "array(" + ",".join(repr(float(x)) for x in c) + ")" for c in M
        ]
        c_arr = "array(" + ",".join(rows) + ")"
        best = f"""
        aggregate(
          zip_with({c_arr}, sequence(0, {len(M) - 1}),
                   (c, i) -> struct(
                       aggregate(zip_with(c, v, (x, y) -> x * y),
                                 cast(0.0 as double), (acc, d) -> acc + d)
                           AS s,
                       i AS i)),
          cast(null as struct<s: double, i: int>),
          (best, cur) -> if(best is null or cur.s > best.s, cur, best)
        ).i
        """
        return frame.withColumn("cluster", F.expr(best).cast("int"))

    literal_ok = C.size <= _LITERAL_ROUND_MAX
    for _ in range(iters):
        if literal_ok:
            assigned, bc = assign_round(base, C), None
        else:
            assigned, bc = assign(base, C)
        grid = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # this round's codebook is fully consumed by the collect above;
        # without the unpersist, paper-scale (k ~ 10^4-10^5 × dim × 8 B)
        # codebooks would accumulate one per Lloyd round for the session
        # lifetime (the final assignment's broadcast below stays live —
        # its DataFrame is the return value and may recompute)
        if bc is not None:
            bc.unpersist(blocking=False)
        by_c: dict = {}
        for r in grid:
            by_c.setdefault(r["cluster"], {})[r["pos"]] = r["s"] / r["n"]
        C = np.array(
            [
                [m[p] for p in sorted(m)] if (m := by_c.get(ci)) else C[ci]
                for ci in range(C.shape[0])
            ],
            dtype=np.float64,
        )
    return assign(base, C)[0]


def _components_from_pairs(
    pairs: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Transitive components of a verified dup-pair graph: the pair
    graph is bounded by dup volume, not the corpus, so under the guard
    the closure is settled by driver union-find in one CollectLimit
    job (exact, no iteration cap); above it, distributed min-id
    propagation with convergence checks.  Shared by dup_clusters and
    apply_dedup so the cast/guard contract lives in one place."""
    from samyama_graph_spark.algorithms.components import wcc

    # NOT pinned: the wcc guard does consume this frame twice (count
    # probe + bounded collect), but an interleaved A/B measured the
    # persist STRICTLY WORSE (median 11.8 s vs 5.9 s for the corpus
    # entry) — the cache build of the pair rows plus the lost
    # whole-stage fusion into the probe costs more than the second
    # execution of the candidate pipeline saves at gate scale
    edges = pairs.select(
        F.col("x").cast("long").alias("src"),
        F.col("y").cast("long").alias("dst"),
    )
    return wcc(edges, max_iterations=max_iterations)


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 50,
) -> DataFrame:
    """Group near-dup pairs ``(x, y, ...)`` into clusters and pick a
    canonical representative per cluster.

    Connected components (min-id propagation, algorithms.components.wcc)
    over the pair graph: a ~ b ~ c collapses into ONE cluster even when
    (a, c) was never emitted as a candidate pair — the behavior a dedup
    pipeline needs before dropping rows, otherwise transitive duplicates
    survive pairwise filtering.  Returns one row per cluster:
    ``(cluster_id, size, keep_id, member_ids)`` where cluster_id =
    keep_id = min member id (the canonical doc) and member_ids is the
    sorted comma-joined id list (deterministic, oracle-hashable).

    ``nodes`` (optional ``(id)`` frame) adds singleton clusters for ids
    with no dup pair, so the output is a full partition of the corpus.

    Scale: dup clusters are overwhelmingly tiny (pairs are already
    Jaccard/cosine-verified), so WCC converges in a few rounds; the
    collect_list is bounded by the largest dup cluster, not the corpus.
    """
    comp = _components_from_pairs(pairs, max_iterations)
    if nodes is not None:
        ids = nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
        comp = comp.unionByName(
            ids.join(comp.select("id"), "id", "left_anti").select(
                "id", F.col("id").alias("component")
            )
        )
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min("id").alias("keep_id"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
    )


def simhash_dup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 6,
    chunks: int = 4,
) -> DataFrame:
    """Per-doc near-dup summary ``(id, n_dups, min_hamming)`` WITHOUT
    materializing the distinct pair set.

    A candidate pair surfaces once per SHARED chunk (its bucket-join
    multiplicity m = number of equal chunks, 1..chunks), so instead of
    a global ``distinct()`` — a full shuffle of the multi-million-row
    candidate stream — each row carries the exact weight lcm/m (lcm of
    1..chunks, an integer), and a partial-aggregating groupBy on doc id
    sums weights: every pair contributes m * (lcm/m) = lcm, giving
    exact integer counts with map-side combine doing the heavy
    lifting.  Identical values to counting distinct verified pairs.
    """
    import math

    # UNPINNED for the same measured reason as simhash_near_dups (r12)
    sig = simhash(df, text_col, id_col)
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    cand = (
        _simhash_candidates(sig, chunks)
        .withColumn(
            "hamming", F.bit_count(F.col("sx").bitwiseXOR(F.col("sy")))
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # multiplicity = number of equal chunks between the two signatures
    eq_terms = [
        F.when(
            F.shiftright(F.col("sx"), c * width).bitwiseAND(F.lit(mask))
            == F.shiftright(F.col("sy"), c * width).bitwiseAND(F.lit(mask)),
            1,
        ).otherwise(0)
        for c in range(chunks)
    ]
    m = functools.reduce(op.add, eq_terms)
    lcm = math.lcm(*range(1, chunks + 1))
    cand = cand.withColumn("w", F.lit(lcm).cast("long") / m)
    # BOTH endpoints of every pair, via a 2-element explode — NOT a
    # union of two projections of `cand`: the union form executes the
    # whole bucket join + verification TWICE (Spark does not reuse the
    # common subplan across union legs; measured ~1.3 s of the entry)
    sides = cand.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("id"), "hamming", "w"),
                F.struct(F.col("y").alias("id"), "hamming", "w"),
            )
        ).alias("s")
    ).select("s.id", "s.hamming", "s.w")
    return sides.groupBy("id").agg(
        (F.sum("w") / F.lit(lcm)).cast("long").alias("n_dups"),
        F.min("hamming").cast("long").alias("min_hamming"),
    )


def apply_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iterations: int = 50,
) -> DataFrame:
    """Materialize the DEDUPED corpus: keep one canonical row (the
    minimum id) per transitive near-dup cluster, drop the rest.

    The last mile of the dedup pipeline — clusters identify the
    duplicates; this applies the decision.  Components come from
    :func:`dup_clusters`' WCC (guarded driver union-find under the
    pair-volume bound); non-canonical ids anti-join out of the corpus
    in one broadcastable pass (the drop set is bounded by dup volume,
    not corpus size).
    """
    comp = _components_from_pairs(pairs, max_iterations)
    drops = comp.filter(F.col("id") != F.col("component")).select("id")
    return df.join(
        drops, df[id_col] == drops["id"], "left_anti"
    )


# ------------------------------------------------- incremental MinHash


def band_buckets(
    sigs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exploded band-bucket rows ``(id, *carry, bkt)`` from MinHash
    signatures — the unit the LSH candidate join and the at-rest
    incremental index share."""
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            *[F.col(f"mh{b * rows + r}").alias(f"v{r}") for r in range(rows)],
        )
        for b in range(bands)
    ]
    return sigs.select("id", *carry, F.explode(F.array(*band_cols)).alias("bkt"))


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """The at-rest incremental-dedup index of a corpus:
    ``(buckets, shingle_hashes)`` = band-bucket rows ``(id, bkt)`` and
    60-bit shingle hashes ``(id, sk)``.

    Persist both (partitioned/bucketed however the store prefers); a
    daily ingest batch then dedups against the WHOLE history by
    joining its own (small) bucket rows to the index — the corpus is
    never re-shingled.
    """
    sh = shingle_sets(df, text_col, id_col, k)
    sh60 = sh.select("id", hash60(F.col("shingle")).alias("sk"))
    sigs = minhash_signatures(sh, num_hashes)
    return band_buckets(sigs, num_hashes, bands), sh60


def minhash_index_write(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> None:
    """Persist the incremental-dedup index AT REST under ``path``:
    ``buckets/`` + ``shingles/`` parquet plus a ``_meta`` parameter
    record (k, num_hashes, bands, hash family constants) — the
    reference persists per-index config the same way
    (vector/index.rs:136).  Readers must come through
    ``minhash_index_read`` with MATCHING parameters: a batch shingled
    with a different k or banded differently would silently miss every
    candidate otherwise."""
    from samyama_graph_spark.datapipe.common import (
        HASH_FAMILY_M,
        HASH_FAMILY_P,
    )
    from samyama_graph_spark.datapipe.similarity import _write_index_meta

    buckets, sh60 = minhash_index(df, text_col, id_col, k, num_hashes, bands)
    buckets.write.mode("overwrite").parquet(path + "/buckets")
    sh60.write.mode("overwrite").parquet(path + "/shingles")
    _write_index_meta(
        df.sparkSession,
        path,
        {
            "kind": "minhash",
            "k": k,
            "num_hashes": num_hashes,
            "bands": bands,
            "hash_family": {"p": HASH_FAMILY_P, "m": HASH_FAMILY_M},
        },
    )


def minhash_index_read(
    spark: SparkSession,
    path: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Open an at-rest minhash index, VALIDATING the caller's
    parameters against the persisted ``_meta`` record; raises on any
    mismatch instead of returning wrong candidates."""
    from samyama_graph_spark.datapipe.common import (
        HASH_FAMILY_M,
        HASH_FAMILY_P,
    )
    from samyama_graph_spark.datapipe.similarity import read_index_meta

    meta = read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"no _meta record under {path}")
    want = {
        "k": k,
        "num_hashes": num_hashes,
        "bands": bands,
        "hash_family": {"p": HASH_FAMILY_P, "m": HASH_FAMILY_M},
    }
    got = {key: meta.get(key) for key in want}
    if got != want:
        raise ValueError(
            f"minhash index at {path} was built with {got}, "
            f"caller requested {want}"
        )
    return (
        read_parquet(spark, path + "/buckets")[0],
        read_parquet(spark, path + "/shingles")[0],
    )



def minhash_incremental_pairs(
    new_df: DataFrame,
    index_buckets: DataFrame,
    index_shingles: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs involving at least one NEW document: the new
    batch's bucket rows join the index-plus-batch buckets, so cost
    scales with the BATCH (times bucket collision rates), never the
    corpus — incremental ingestion's requirement.  Returns
    ``(x, y, jacc)`` with x < y, jacc >= threshold; equals the
    full-corpus pair set minus old-old pairs (verified by the oracle).

    ``k`` / ``num_hashes`` / ``bands`` MUST match the parameters the
    index was built with: the frames carry no metadata to validate
    against, and a mismatch silently randomizes old-new bucket
    collisions (recall collapses with no error).  Persist the
    parameters next to the index tables.
    """
    nb, ns = minhash_index(
        new_df, text_col, id_col, k, num_hashes, bands
    )
    # pin the batch-side frames: nb feeds the candidate join twice
    # (directly and inside the unioned bucket view) and ns feeds the
    # verification legs — without the pin the batch re-shingles per
    # leg.  All three pins stay live until the next dedup operator runs
    lifecycle.release(nb.sparkSession, _OWNER)
    nb = lifecycle.pin(nb, _OWNER)
    all_bkts = index_buckets.unionByName(nb)
    other = all_bkts.select(F.col("id").alias("oid"), "bkt")
    cand = (
        nb.join(other, "bkt")
        .filter(F.col("id") != F.col("oid"))
        .select(
            F.least("id", "oid").alias("x"),
            F.greatest("id", "oid").alias("y"),
        )
        .distinct()
    )
    # pinned: consumed by the id set below + the inter join
    cand = lifecycle.pin(cand, _OWNER)
    # verification must stay BATCH-sized: semi-join the shingle tables
    # down to candidate ids before the three Jaccard legs — without
    # this the per-doc size aggregation runs over the whole indexed
    # corpus on every ingest batch
    cand_ids = (
        cand.select(F.col("x").alias("id"))
        .unionByName(cand.select(F.col("y").alias("id")))
        .distinct()
    )
    sh_needed = (
        index_shingles.unionByName(ns)
        .join(cand_ids, "id", "left_semi")
        .withColumnRenamed("sk", "shingle")
    )
    # pinned: sizes + both join legs
    sh_needed = lifecycle.pin(sh_needed, _OWNER)
    return _pair_jaccard(sh_needed, cand).filter(F.col("jacc") >= threshold)


# --------------------------------------------- cross-document line dedup


def dedup_lines(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """CCNet-style corpus-wide LINE (paragraph) dedup: every non-empty
    line keeps exactly its FIRST occurrence corpus-wide — earliest
    (doc id, position) wins — and all later occurrences are removed
    in place, including repeats inside one document.  Empty lines are
    structure, not content, and always survive.  Returns ``df`` with
    ``text_col`` rewritten plus a ``removed_lines`` count per doc.

    The line granularity complements :func:`substring_span_pairs`
    (fixed k-token windows): boilerplate that repeats as whole lines
    (navigation, licenses, sig blocks) is exactly what CCNet's
    paragraph-hash pass removes before document-level dedup.

    Scale shape: explode to (doc, pos, line), ONE shuffle on the line
    hash to pick the argmin occupant (min struct aggregate — no
    window, so a line duplicated a billion times still reduces with
    map-side combine), one per-doc regroup with a JVM sort+transform
    reassembly.  The line TEXT rides inside the argmin struct ((id,
    pos) is unique, so it never influences the min), which makes the
    aggregate's output exactly the kept line set — the former
    formulation re-joined verdicts back to the exploded stream (a
    corpus-sized hash-equality string join) and then outer-joined by
    (id, pos) a second time; both joins and one full explode
    recomputation are gone.  No Python in the row path; the whole
    pass is two shuffles.
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__ln"),
    )
    content = lines.filter(F.col("__ln") != "")
    # one row per distinct line: the earliest (id, pos) occurrence,
    # carrying its text — this IS the kept content-line set
    first = content.groupBy(F.xxhash64("__ln").alias("__h")).agg(
        F.min(F.struct("__id", "__pos", "__ln")).alias("__keep")
    )
    kept_lines = first.select(
        F.col("__keep.__id").alias("__id"),
        F.col("__keep.__pos").alias("__pos"),
        F.col("__keep.__ln").alias("__ln"),
    ).unionByName(lines.filter(F.col("__ln") == ""))
    kept = (
        kept_lines.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__ln"))
                    ),
                    lambda s: s["__ln"],
                ),
                "\n",
            ).alias("__new_text"),
            F.count(F.lit(1)).alias("__kept_n"),
        )
    )
    total = df.select(
        F.col(id_col).alias("__id"),
        (F.size(F.split(F.col(text_col), "\n"))).alias("__total_n"),
    )
    out = (
        df.join(kept, df[id_col] == kept["__id"], "left")
        .join(total, df[id_col] == total["__id"], "left")
        .select(
            *[
                F.coalesce(F.col("__new_text"), F.lit("")).alias(c)
                if c == text_col
                else F.col(c)
                for c in df.columns
            ],
            (F.col("__total_n") - F.coalesce(F.col("__kept_n"), F.lit(0)))
            .cast("long")
            .alias("removed_lines"),
        )
    )
    return out
