"""Training-data pipeline workloads with DuckDB oracles.

The MinHash/SimHash pipelines are validated end-to-end: the oracle SQL
re-runs the identical pipeline (same md5-prefix hash family, same
shingling, same banding) in DuckDB, so candidate generation AND
verification must agree bit-for-bit, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.datapipe.common import (
    hash60_sql,
    hash_family_member_sql,
)
from samyama_graph_spark.datapipe.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dup_stats,
)
from samyama_graph_spark.datapipe.multimodal import extract_features, synthetic_media
from samyama_graph_spark.datapipe.similarity import (
    component_sign_tables,
    knn_bruteforce,
    knn_join_lsh,
    knn_lsh,
)
from samyama_graph_spark.datapipe.text import (
    STOPWORDS,
    LANG_MARKERS,
    language_id,
    quality_score,
    text_fingerprint,
    token_stats,
)
from samyama_graph_spark.loaders import load_tables
from samyama_graph_spark.workloads import query

# Shared oracle fragment: distinct 3-word shingles per doc (1-based
# DuckDB list indexing; docs shorter than 3 words produce no rows).
_SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
        FROM tok WHERE len(ws) >= 3),
sh AS (SELECT DISTINCT doc_id AS id,
              ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       FROM idx)
"""


def _spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, parallelized.  The synthetic corpus tables are
    single-row-group parquet files, which Spark scans as ONE task —
    serializing exactly the regex/shingle/vector per-row work these
    entries exist to measure.  When the scan yields fewer partitions
    than the session's cores, one round-robin repartition of the
    (tiny) input fans the downstream map work out; on real multi-file
    / multi-row-group inputs the condition never fires and the frame
    passes through untouched.  Operators themselves are unchanged —
    this is ingest wiring, the job of any real deployment's loader.
    Memoized per (session, sf_dir, name).
    """

    def build() -> DataFrame:
        df = load_tables(spark, sf_dir, [name])[name]
        target = min(32, spark.sparkContext.defaultParallelism)
        # plan-only partition probe: no job for a file scan
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
        return df

    return lifecycle.memo(spark, ("workloads_datapipe.spread", sf_dir, name), build)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, sf_dir, "embeddings")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread: the events entries are join/window-bound (as-of,
    # range, rollups) — their first aggregation re-shuffles anyway, so
    # a load-time repartition only adds an exchange (A/B measured
    # ~+0.4 s on events_asof_join at sf0.1); the documents/embeddings
    # entries by contrast do regex/vector work ON the scan and win.
    return load_tables(spark, sf_dir, ["events"])["events"]


# ------------------------------------------------------------- exact dedup


@query(
    "dedup_exact",
    f"""
    SELECT {hash60_sql('text')} AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir), "text", "doc_id")


# ----------------------------------------------------------- MinHash + LSH

_MH_HASHES = 8
_MH_BANDS = 4
_MH_THRESHOLD = 0.5


def _minhash_pair_ctes() -> str:
    """CTE chain ending in ``pairs(x, y, jacc)`` — the verified
    MinHash-LSH near-dup pairs.  Shared by the pair-listing oracle and
    the transitive-closure cluster oracle."""
    rows = _MH_HASHES // _MH_BANDS
    mh_cols = ",\n        ".join(
        f"min({hash_family_member_sql('s60', i)}) AS mh{i}"
        for i in range(_MH_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, {vs} FROM sig".format(
            b=b,
            vs=", ".join(
                f"mh{b * rows + r} AS v{r}" for r in range(rows)
            ),
        )
        for b in range(_MH_BANDS)
    )
    band_eq = " AND ".join(f"a.v{r} = b.v{r}" for r in range(rows))
    return f"""
    {_SHINGLES_CTE},
    sh60 AS (SELECT id, {hash60_sql('s')} AS s60 FROM sh),
    sig AS (SELECT id, {mh_cols} FROM sh60 GROUP BY id),
    bkt AS ({band_selects}),
    cand AS (SELECT DISTINCT a.id AS x, b.id AS y
             FROM bkt a JOIN bkt b ON a.band = b.band AND {band_eq}
             WHERE a.id < b.id),
    sz AS (SELECT id, count(*) AS n FROM sh60 GROUP BY id),
    inter AS (SELECT c.x, c.y, count(*) AS i
              FROM cand c JOIN sh60 a ON a.id = c.x
              JOIN sh60 b ON b.id = c.y AND b.s60 = a.s60
              GROUP BY c.x, c.y),
    pairs AS (
        SELECT x, y, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jacc
        FROM inter JOIN sz sa ON sa.id = x JOIN sz sb ON sb.id = y
        WHERE i * 1.0 / (sa.n + sb.n - i) >= {_MH_THRESHOLD})
    """


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_pair_ctes()}
    SELECT x, y, jacc FROM pairs
    """


@query("minhash_lsh_dedup", _minhash_oracle())
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = minhash_lsh_pairs(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        k=3,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )
    return df.select("x", "y", F.round("jacc", 6).alias("jacc"))


# --------------------------------------------------------- n-gram Jaccard


@query(
    "ngram_jaccard_block",
    f"""
    WITH {_SHINGLES_CTE},
    blocks AS (SELECT d1.doc_id AS x, d2.doc_id AS y
               FROM documents d1 JOIN documents d2
                 ON d1.lang = d2.lang AND d1.doc_id < d2.doc_id),
    sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    inter AS (SELECT p.x, p.y, count(*) AS i
              FROM blocks p JOIN sh a ON a.id = p.x
              JOIN sh b ON b.id = p.y AND b.s = a.s
              GROUP BY p.x, p.y)
    SELECT x, y, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jacc
    FROM inter JOIN sz sa ON sa.id = x JOIN sz sb ON sb.id = y
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.3
    """,
)
def ngram_jaccard_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        k=3,
        threshold=0.3,
        block_cols=["lang"],
    )
    return df.select("x", "y", F.round("jacc", 6).alias("jacc"))


# ------------------------------------------------ exact substring spans


@query(
    "substring_span_dedup",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
    sh AS (
        SELECT doc_id, i AS pos,
               array_to_string(words[i + 1:i + 8], ' ') AS shingle
        FROM w, unnest(range(len(words) - 8 + 1)) AS t(i)
        WHERE len(words) >= 8
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_windows
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (dedup.substring_span_pairs): pairs
    of documents sharing >= 3 verbatim 8-token windows, with the
    shared-window count — the span-level dedup signal (repeated
    boilerplate across otherwise-distinct docs) the document-level
    family can't see.  Oracle replays the window extraction and the
    shingle-equality join in SQL."""
    from samyama_graph_spark.datapipe.dedup import substring_span_pairs

    pairs = substring_span_pairs(_docs(spark, sf_dir), "text", "doc_id", k=8)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .filter(F.col("shared_windows") >= 3)
    )


@query(
    "substring_maximal_spans",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
    sh AS (
        SELECT doc_id, i AS pos,
               array_to_string(words[i + 1:i + 8], ' ') AS shingle
        FROM w, unnest(range(len(words) - 8 + 1)) AS t(i)
        WHERE len(words) >= 8
    ),
    m AS (
        SELECT a.doc_id AS id_a, a.pos AS pos_a,
               b.doc_id AS id_b, b.pos AS pos_b
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT *, pos_a - row_number() OVER (
            PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS g
        FROM m
    )
    SELECT id_a, CAST(min(pos_a) AS BIGINT) AS start_a,
           id_b, CAST(min(pos_b) AS BIGINT) AS start_b,
           CAST(count(*) + 7 AS BIGINT) AS span_len
    FROM isl GROUP BY id_a, id_b, pos_a - pos_b, g
    HAVING count(*) + 7 >= 50
    """,
)
def substring_maximal_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-offset MAXIMAL duplicated substrings of >= 50 tokens
    (dedup.maximal_duplicate_spans) — the exact granularity of Lee et
    al. 2022's suffix-array dedup, reproduced as k-token window hits
    island-merged along pair-diagonals.  The oracle replays window
    mining, the diagonal row_number islands, and the extent
    aggregation in SQL, so every span's position and length is
    hash-checked."""
    from samyama_graph_spark.datapipe.dedup import maximal_duplicate_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return maximal_duplicate_spans(docs, "text", "doc_id", k=8, min_len=50)


@query("bpe_train_merges")
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training on the documents corpus:
    20 merge rounds, each one weighted pair-count groupBy + a 1-row
    argmax collect + a JVM-side scan rewrite of the symbol arrays
    (text.bpe_train).  The iterative per-round argmax is not
    SQL-expressible, so there is no DuckDB oracle; correctness is
    pinned by the pure-Python reference-trainer parity test
    (tests/test_datapipe.py: identical merge sequence, round for
    round) and the lossless encode round-trip."""
    from samyama_graph_spark.datapipe.text import bpe_train

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = bpe_train(docs, "text", num_merges=20)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    )


@query(
    "substring_span_strip",
    """
    WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words
               FROM documents),
    sh AS (
        SELECT doc_id, i AS pos,
               array_to_string(words[i + 1:i + 8], ' ') AS shingle
        FROM w, unnest(range(len(words) - 8 + 1)) AS t(i)
        WHERE len(words) >= 8
    ),
    cov AS (
        SELECT DISTINCT b.doc_id AS vid, b.pos + j AS tp
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id,
        unnest(range(8)) AS r(j)
    ),
    toks AS (
        SELECT doc_id, generate_subscripts(words, 1) - 1 AS tp,
               unnest(words) AS tok
        FROM w WHERE doc_id IN (SELECT vid FROM cov)
    ),
    keep AS (
        SELECT t.doc_id, t.tp, t.tok
        FROM toks t LEFT JOIN cov c ON c.vid = t.doc_id AND c.tp = t.tp
        WHERE c.vid IS NULL
    ),
    reb AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text2,
               count(*) AS keptn
        FROM keep GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT vid FROM cov)
                THEN COALESCE(r.text2, '') ELSE d.text END AS text,
           CAST(CASE WHEN d.doc_id IN (SELECT vid FROM cov)
                THEN len(string_split(d.text, ' ')) - COALESCE(r.keptn, 0)
                ELSE 0 END AS BIGINT) AS dropped_tokens
    FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id
    """,
)
def substring_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup: every 8-token window
    shared with a lower-id document is stripped from the higher-id one
    (dedup.strip_duplicate_spans), keeping exactly one occurrence of
    each duplicated passage corpus-wide.  The oracle replays window
    mining, coverage expansion, and token-level reassembly in SQL, so
    the rewritten TEXT itself is hash-checked, not just counts."""
    from samyama_graph_spark.datapipe.dedup import (
        strip_duplicate_spans,
        substring_span_pairs,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = substring_span_pairs(docs, "text", "doc_id", k=8)
    out = strip_duplicate_spans(docs, pairs, "text", "doc_id", k=8)
    return out.select("doc_id", "text", "dropped_tokens")


# ------------------------------------------------------------------ SimHash

_SH_CHUNKS = 4
_SH_WIDTH = 60 // _SH_CHUNKS
_SH_MAXHAM = 6


def _simhash_oracle() -> str:
    h = hash60_sql("w")
    chunk_selects = " UNION ALL ".join(
        f"SELECT id, sim, {c} AS c, (sim >> {c * _SH_WIDTH}) & {(1 << _SH_WIDTH) - 1} AS v FROM sig"
        for c in range(_SH_CHUNKS)
    )
    return f"""
    WITH tokh AS (
        SELECT DISTINCT doc_id AS id, {h} AS hv
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    bitsum AS (
        SELECT id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sm
        FROM tokh CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb
        GROUP BY id, b
    ),
    sig AS (
        SELECT id, sum(CASE WHEN sm > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sim
        FROM bitsum GROUP BY id
    ),
    chunks AS ({chunk_selects}),
    cand AS (
        SELECT DISTINCT a.id AS x, b.id AS y, a.sim AS sx, b.sim AS sy
        FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v
        WHERE a.id < b.id
    ),
    pairs AS (
        SELECT x, y, bit_count(xor(sx, sy)) AS hamming
        FROM cand WHERE bit_count(xor(sx, sy)) <= {_SH_MAXHAM}
    ),
    sides AS (
        SELECT x AS id, hamming FROM pairs
        UNION ALL SELECT y AS id, hamming FROM pairs
    )
    SELECT id, count(*) AS n_dups, min(hamming) AS min_hamming
    FROM sides GROUP BY id
    """


@query("simhash_dedup", _simhash_oracle())
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SimHash near-dup pipeline, summarized per doc (near-dup
    degree + closest hamming) — the synthetic corpus is template-heavy
    (>1M qualifying pairs at sf0.1), so the raw pair set is bench-
    hostile output; the summary still forces every pair through the
    bucket-join + popcount verification in BOTH engines."""
    return simhash_dup_stats(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        max_hamming=_SH_MAXHAM,
        chunks=_SH_CHUNKS,
    )


# ------------------------------------------------------ embedding near-dup


@query(
    "embedding_near_dup",
    """
    WITH ee AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings),
    nrm AS (SELECT vec_id, sum(v * v) AS nn FROM ee GROUP BY vec_id),
    dp AS (SELECT a.vec_id AS x, b.vec_id AS y, sum(a.v * b.v) AS d
           FROM ee a JOIN ee b ON a.i = b.i AND a.label = b.label
                     AND a.vec_id < b.vec_id
           GROUP BY 1, 2)
    SELECT x, y, round(d / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS cos
    FROM dp JOIN nrm na ON na.vec_id = x JOIN nrm nb ON nb.vec_id = y
    WHERE d / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.35
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = embedding_near_dups(
        _embs(spark, sf_dir), "embedding", "vec_id", threshold=0.35,
        block_col="label",
    )
    return df.select("x", "y", F.round("cos", 6).alias("cos"))


# ------------------------------------------------------------------- k-NN


@query(
    "knn_cosine_top10",
    """
    WITH qe AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qv,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings WHERE vec_id = 0),
    ee AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    s AS (SELECT vec_id, sum(v * qv) AS dp, sum(v * v) AS nv, sum(qv * qv) AS nq
          FROM ee JOIN qe USING (i) GROUP BY vec_id)
    SELECT vec_id AS id, round(dp / (sqrt(nv) * sqrt(nq)), 6) AS score
    FROM s ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id LIMIT 10
    """,
)
def knn_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """db.index.vector.queryNodes equivalent: exact cosine top-10 for
    the vec_id=0 embedding.  The query vector is a parameter (one-row
    lookup), the scan itself never collects."""
    embs = _embs(spark, sf_dir)
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = knn_bruteforce(embs, "embedding", "vec_id", qv, k=10, metric="cosine")
    return out.select("id", F.round("score", 6).alias("score"))


_LSH_T, _LSH_P = 4, 8  # component-sign tables over components 0..31


def _sign_bucket_sql(col: str, t: int, planes: int) -> str:
    """DuckDB bucket expr for component-sign table t (1-based index)."""
    return " + ".join(
        f"(CASE WHEN CAST({col}[{t * planes + i + 1}] AS DOUBLE) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(planes)
    )


def _lsh_oracle_sql() -> str:
    """Exact SQL replay of the component-sign LSH probe: bucket every
    row and the query in each table, keep rows sharing a bucket with
    the query in ANY table, cosine re-rank top-10."""
    eb = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, {_sign_bucket_sql('embedding', t, _LSH_P)} AS b "
        "FROM embeddings"
        for t in range(_LSH_T)
    )
    qb = " UNION ALL ".join(
        f"SELECT {t} AS t, {_sign_bucket_sql('embedding', t, _LSH_P)} AS b "
        "FROM embeddings WHERE vec_id = 0"
        for t in range(_LSH_T)
    )
    return f"""
    WITH eb AS ({eb}), qb AS ({qb}),
    cand AS (SELECT DISTINCT eb.vec_id FROM eb JOIN qb USING (t, b)),
    qe AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qv,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE vec_id = 0),
    ee AS (SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS v,
                  generate_subscripts(e.embedding, 1) AS i
           FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id),
    s AS (SELECT vec_id, sum(v * qv) AS dp, sum(v * v) AS nv, sum(qv * qv) AS nq
          FROM ee JOIN qe USING (i) GROUP BY vec_id)
    SELECT vec_id AS id, round(dp / (sqrt(nv) * sqrt(nq)), 6) AS score
    FROM s ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id LIMIT 10
    """


@query("knn_lsh_top10", _lsh_oracle_sql())
def knn_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN probe, fully oracle-checked: the workload pins the LSH
    family to axis-aligned component-sign tables so DuckDB can replay
    bucketing + candidate pruning + exact re-rank value-for-value.
    (The operator's default is random hyperplanes; recall vs brute
    force for that family is asserted in tests/test_datapipe.py.)"""
    embs = _embs(spark, sf_dir)
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = knn_lsh(
        embs, "embedding", "vec_id", qv, k=10, metric="cosine",
        tables=component_sign_tables(len(qv), _LSH_T, _LSH_P),
    )
    return out.select("id", F.round("score", 6).alias("score"))


def _knn_join_oracle_sql(k: int = 5) -> str:
    """SQL replay of the blocked k-NN join over component-sign tables:
    bucket both sides, equi-join, dedup pairs, cosine re-rank top-k
    per left row."""
    lb = " UNION ALL ".join(
        f"SELECT vec_id AS x, {t} AS t, "
        f"{_sign_bucket_sql('embedding', t, _LSH_P)} AS b "
        "FROM embeddings WHERE vec_id < 20"
        for t in range(_LSH_T)
    )
    rb = " UNION ALL ".join(
        f"SELECT vec_id AS y, {t} AS t, "
        f"{_sign_bucket_sql('embedding', t, _LSH_P)} AS b "
        "FROM embeddings"
        for t in range(_LSH_T)
    )
    return f"""
    WITH lb AS ({lb}), rb AS ({rb}),
    pairs AS (SELECT DISTINCT lb.x, rb.y FROM lb JOIN rb USING (t, b)),
    le AS (SELECT vec_id AS x, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE vec_id < 20),
    re AS (SELECT vec_id AS y, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    s AS (SELECT p.x, p.y,
                 sum(le.v * re.v)
                   / (sqrt(sum(le.v * le.v)) * sqrt(sum(re.v * re.v))) AS sc
          FROM pairs p
          JOIN le ON le.x = p.x
          JOIN re ON re.y = p.y AND re.i = le.i
          GROUP BY p.x, p.y)
    SELECT x, y, round(sc, 6) AS score, rn FROM (
        SELECT x, y, sc,
               row_number() OVER (PARTITION BY x ORDER BY sc DESC, y) AS rn
        FROM s) WHERE rn <= {k}
    """


@query("knn_join_top5", _knn_join_oracle_sql())
def knn_join_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked batch k-NN join (knn_join_lsh): top-5 right rows per
    left row via (table, bucket) equi-join candidates — the scale-safe
    default join (never all-pairs).  Component-sign tables make the
    whole pipeline SQL-replayable for the gate."""
    embs = _embs(spark, sf_dir)
    dim = len(embs.select("embedding").first()["embedding"])
    left = embs.filter(F.col("vec_id") < 20)
    out = knn_join_lsh(
        left, embs, "embedding", "vec_id", k=5, metric="cosine",
        tables=component_sign_tables(dim, _LSH_T, _LSH_P),
    )
    return out.select(
        "x", "y", F.round("score", 6).alias("score"),
        F.col("rn").cast("long").alias("rn"),
    )


# ------------------------------------------------------------ text analysis


@query(
    "token_stats",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id AS id,
           length(text) AS n_chars,
           len(ws) AS n_tokens,
           len(list_distinct(ws)) AS n_distinct_tokens,
           round((length(text) - len(ws) + 1) * 1.0 / len(ws), 6) AS avg_token_len
    FROM t
    """,
)
def token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = token_stats(_docs(spark, sf_dir), "text", "doc_id")
    return df.select(
        "id",
        F.col("n_chars").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("n_distinct_tokens").cast("long"),
        "avg_token_len",
    )


_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "quality_scores",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id, len(ws) AS nt, len(list_distinct(ws)) AS nd,
                 len(list_filter(ws, w -> w IN ({_STOP_IN}))) AS ns
          FROM t)
    SELECT doc_id AS id,
           round(0.4 * least(nt / 50.0, 1.0)
               + 0.4 * (nd * 1.0 / nt)
               + 0.2 * least(ns * 5.0 / nt, 1.0), 6) AS quality
    FROM s
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir), "text", "doc_id")


def _langid_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    hit_cols = ",\n           ".join(
        "len(list_filter(ws, w -> w IN ({}))) AS h_{}".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    cases = []
    for i, lang in enumerate(langs):
        others = [f"h_{lang} >= h_{o}" for o in langs[i + 1 :]]
        cond = " AND ".join(others) if others else "TRUE"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " END"
    greatest = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    h AS (SELECT doc_id,
           {hit_cols}
          FROM t)
    SELECT doc_id AS id, {case_sql} AS lang_guess, {greatest} AS lang_hits
    FROM h
    """


@query("language_id", _langid_oracle())
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = language_id(_docs(spark, sf_dir), "text", "doc_id")
    return df.select("id", "lang_guess", F.col("lang_hits").cast("long"))


def _text_metrics_oracle() -> str:
    from samyama_graph_spark.datapipe.text import EMAIL_RE, URL_RE, WS_RE

    _URL_RE, _EMAIL_RE, _WS_RE = URL_RE, EMAIL_RE, WS_RE
    langs = sorted(LANG_MARKERS)
    hit_cols = ",\n           ".join(
        "len(list_filter(ws, w -> w IN ({}))) AS h_{}".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    cases = []
    for i, lang in enumerate(langs):
        others = [f"h_{lang} >= h_{o}" for o in langs[i + 1 :]]
        cond = " AND ".join(others) if others else "TRUE"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " END"
    greatest = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    return f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents),
    s AS (SELECT doc_id, len(ws) AS nt, len(list_distinct(ws)) AS nd,
                 len(list_filter(ws, w -> w IN ({_STOP_IN}))) AS ns,
                 {hit_cols}
          FROM t)
    SELECT t.doc_id AS id,
           length(t.text) AS n_chars,
           s.nt AS n_tokens,
           s.nd AS n_distinct_tokens,
           round((length(t.text) - s.nt + 1) * 1.0 / s.nt, 6)
               AS avg_token_len,
           round(0.4 * least(s.nt / 50.0, 1.0)
               + 0.4 * (s.nd * 1.0 / s.nt)
               + 0.2 * least(s.ns * 5.0 / s.nt, 1.0), 6) AS quality,
           {case_sql} AS lang_guess,
           {greatest} AS lang_hits,
           lower(trim(regexp_replace(regexp_replace(regexp_replace(
               t.text, '{_URL_RE}', '<URL>', 'g'),
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_WS_RE}', ' ', 'g'))) AS norm_text,
           len(regexp_extract_all(t.text, '{_URL_RE}')) AS n_urls,
           len(regexp_extract_all(regexp_replace(t.text, '{_URL_RE}',
               '<URL>', 'g'), '{_EMAIL_RE}')) AS n_emails,
           length(lower(trim(regexp_replace(regexp_replace(regexp_replace(
               t.text, '{_URL_RE}', '<URL>', 'g'),
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_WS_RE}', ' ', 'g')))) AS n_chars_norm
    FROM t JOIN s ON s.doc_id = t.doc_id
    """


@query("text_metrics", _text_metrics_oracle())
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring + language-ID in one gate row —
    three pure-column-expression text operators joined per document
    (each is its own narrow projection over the same scan; Catalyst
    collapses the id-equi-joins since all sides share the documents
    scan).  The individual operators keep their own oracled REGISTRY
    entries for pytest."""
    from samyama_graph_spark.datapipe.text import normalize_text

    docs = _docs(spark, sf_dir)
    tok = token_stats(docs, "text", "doc_id").select(
        "id",
        F.col("n_chars").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("n_distinct_tokens").cast("long"),
        "avg_token_len",
    )
    qual = quality_score(docs, "text", "doc_id")
    lang = language_id(docs, "text", "doc_id").select(
        "id", "lang_guess", F.col("lang_hits").cast("long")
    )
    norm = normalize_text(docs, "text", "doc_id")
    return tok.join(qual, "id").join(lang, "id").join(norm, "id")


@query(
    "text_fingerprints",
    rf"""
    WITH {_SHINGLES_CTE},
    fp AS (SELECT id, min({hash60_sql('s')}) AS fp_min,
                  max({hash60_sql('s')}) AS fp_max
           FROM sh GROUP BY id)
    SELECT d.doc_id AS id, fp.fp_min, fp.fp_max,
           len(regexp_extract_all(d.text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_subtokens,
           len(list_distinct(regexp_extract_all(d.text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS n_distinct_subtokens
    FROM documents d LEFT JOIN fp ON fp.id = d.doc_id
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting + BPE-ish pre-tokenizer counts in one
    gate row (both pure column expressions over the same scan; the
    standalone entries stay REGISTRY/pytest-checked)."""
    from samyama_graph_spark.datapipe.text import bpe_token_stats

    docs = _docs(spark, sf_dir)
    fp = text_fingerprint(docs, "text", "doc_id")
    bpe = bpe_token_stats(docs, "text", "doc_id").select(
        "id",
        F.col("n_subtokens").cast("long"),
        F.col("n_distinct_subtokens").cast("long"),
    )
    return fp.join(bpe, "id")


@query(
    "bpe_token_counts",
    r"""
    SELECT doc_id AS id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
               AS n_subtokens,
           len(list_distinct(
               regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')))
               AS n_distinct_subtokens
    FROM documents
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counting (letter runs / digit runs /
    punctuation marks) — identical regex semantics in both engines."""
    from samyama_graph_spark.datapipe.text import bpe_token_stats

    return bpe_token_stats(_docs(spark, sf_dir), "text", "doc_id")


_IVF_C, _IVF_PROBE = 16, 4


def _ivf_oracle_sql() -> str:
    """SQL replay of the IVF probe: centroids = embeddings of the 16
    lowest vec_ids; assign every vector to its max-cosine centroid
    (tie -> lowest centroid id, matching ivf_assign's greatest(struct)
    tie-break); probe the 4 cells nearest the query; exact re-rank."""
    return f"""
    WITH cents AS (SELECT vec_id AS cid,
                          CAST(unnest(embedding) AS DOUBLE) AS cv,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings WHERE vec_id < {_IVF_C}),
    cnorm AS (SELECT cid, sqrt(sum(cv * cv)) AS n FROM cents GROUP BY cid),
    ee AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    dots AS (SELECT e.vec_id, c.cid, sum(e.v * c.cv) / max(n.n) AS s
             FROM ee e JOIN cents c USING (i) JOIN cnorm n ON n.cid = c.cid
             GROUP BY e.vec_id, c.cid),
    assign AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        FROM dots) WHERE rn = 1),
    probe AS (SELECT cid FROM dots WHERE vec_id = 0
              ORDER BY s DESC, cid LIMIT {_IVF_PROBE}),
    cand AS (SELECT a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid),
    qe AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qv,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE vec_id = 0),
    s2 AS (SELECT e.vec_id, sum(e.v * q.qv) AS dp,
                  sum(e.v * e.v) AS nv, sum(q.qv * q.qv) AS nq
           FROM ee e JOIN qe q USING (i) JOIN cand c ON c.vec_id = e.vec_id
           GROUP BY e.vec_id)
    SELECT vec_id AS id, round(dp / (sqrt(nv) * sqrt(nq)), 6) AS score
    FROM s2 ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id LIMIT 10
    """


@query("knn_ivf_top10", _ivf_oracle_sql())
def knn_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, fully oracle-checked: coarse-quantize to deterministic
    centroids (embeddings of the lowest 16 vec_ids), probe the 4
    nearest cells, exact re-rank.  The assignment, probe selection,
    and re-rank are all replayed in SQL by the oracle."""
    from samyama_graph_spark.datapipe.similarity import knn_ivf

    embs = _embs(spark, sf_dir)
    # centroids and the query vector in ONE collect: the query id (0)
    # is by construction among the lowest _IVF_C vec_ids, so the
    # former separate filter(vec_id = 0) job was a second full scan
    low = embs.orderBy("vec_id").limit(_IVF_C).collect()
    cents = [[float(x) for x in r["embedding"]] for r in low]
    qrow = next((r for r in low if r["vec_id"] == 0), None)
    qv = (
        [float(x) for x in qrow["embedding"]]
        if qrow is not None
        else [
            float(x)
            for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
    )
    out = knn_ivf(embs, "embedding", "vec_id", qv, cents, k=10, nprobe=_IVF_PROBE)
    return out.select("id", F.round("score", 6).alias("score"))


# -------------------------------------------------------------- multimodal


@query(
    "multimodal_features",
    """
    SELECT k AS media_id,
           CAST(length('payload-' || CAST(k AS VARCHAR)) AS BIGINT)
               AS n_bytes,
           8 AS dim
    FROM (SELECT unnest(generate_series(0, 63)) AS k)
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary media:
    byte-level payloads flow executor-side through the decode+embed
    kernel; the projected sizes are arithmetic the oracle replays.
    (Real PNG pixel decoding is value-checked by multimodal_png_stats.)
    """
    media = synthetic_media(spark, 64)
    feats = extract_features(media, dim=8)
    return feats.select("media_id", "n_bytes", F.size("feature").alias("dim"))


# --------------------------------------------------------------------- PCA


@query(
    "pca_2d_closed_form",
    """
    WITH p AS (SELECT vec_id,
                      CAST(embedding[1] AS DOUBLE) AS x,
                      CAST(embedding[2] AS DOUBLE) AS y
               FROM embeddings),
    m AS (SELECT avg(x) AS mx, avg(y) AS my,
                 count(*) AS n FROM p),
    c AS (SELECT sum((x - mx) * (x - mx)) / (n - 1) AS a,
                 sum((y - my) * (y - my)) / (n - 1) AS b,
                 sum((x - mx) * (y - my)) / (n - 1) AS cxy,
                 max(mx) AS mx, max(my) AS my
          FROM p, m GROUP BY n),
    -- major-axis angle of the 2x2 covariance: theta = atan2(2c, a-b)/2
    e AS (SELECT cos(atan2(2 * cxy, a - b) / 2) AS ex,
                 sin(atan2(2 * cxy, a - b) / 2) AS ey,
                 mx, my FROM c)
    SELECT vec_id AS id,
           round(abs((x - mx) * ex + (y - my) * ey), 6) AS pc1_abs
    FROM p, e
    """,
)
def pca_2d_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME distributed PCA operator (one-pass Gram aggregation +
    driver eigh + codegen projection, reference pca.rs) on a 2-d
    sub-problem whose principal axis has a closed form the oracle
    computes with atan2 — value-level gate coverage for the PCA path.
    abs() fixes the eigenvector sign ambiguity."""
    from samyama_graph_spark.algorithms import pca_fit, pca_transform

    embs = _embs(spark, sf_dir).select(
        "vec_id",
        F.array(
            F.element_at("embedding", 1).cast("double"),
            F.element_at("embedding", 2).cast("double"),
        ).alias("v2"),
    )
    model = pca_fit(embs, "v2", n_components=1)
    out = pca_transform(embs, "v2", model)
    return out.select(
        F.col("vec_id").alias("id"),
        F.round(F.abs(F.element_at("pc", 1)), 6).alias("pc1_abs"),
    )


@query("pca_embeddings", None)  # eigendecomposition: rows-only driver check
def pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """algo PCA (reference pca.rs): fit top-2 components on the
    embeddings table (single distributed Gram pass, driver eigh),
    project every vector JVM-side.  Parity with a numpy reference
    PCA is asserted in tests/test_algorithms.py."""
    from samyama_graph_spark.algorithms import pca_fit, pca_transform

    embs = _embs(spark, sf_dir)
    model = pca_fit(embs, "embedding", n_components=2)
    out = pca_transform(embs, "embedding", model)
    return out.select(
        F.col("vec_id").alias("id"),
        F.round(F.element_at("pc", 1), 6).alias("pc1"),
        F.round(F.element_at("pc", 2), 6).alias("pc2"),
    )


@query(
    "multimodal_png_stats",
    """
    WITH imgs AS (SELECT unnest(generate_series(0, 63)) AS k),
    px AS (SELECT k, x, y,
                  (7 * k + 3 * x + 5 * y) % 256 AS r,
                  (11 * k + x + 2 * y) % 256 AS g,
                  (13 * k + 5 * x + y) % 256 AS b
           FROM imgs,
                (SELECT unnest(generate_series(0, 7)) AS x),
                (SELECT unnest(generate_series(0, 5)) AS y))
    SELECT k AS media_id, 8 AS width, 6 AS height, 3 AS channels,
           round(avg(r), 6) AS mean_r,
           round(avg(g), 6) AS mean_g,
           round(avg(b), 6) AS mean_b,
           round(0.299 * avg(r) + 0.587 * avg(g) + 0.114 * avg(b), 6)
               AS mean_luma
    FROM px GROUP BY k
    """,
)
def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal path: executor-side
    synthesis of valid PNG bytes, then Arrow-batched mapInPandas
    decode (stdlib inflate + unfilter) computing per-channel means.
    Pixel values follow a known arithmetic formula, so the oracle
    re-derives every statistic WITHOUT decoding — the gate fails
    unless the PNG bytes were genuinely parsed correctly."""
    from samyama_graph_spark.datapipe.multimodal import (
        image_stats,
        synthetic_png_media,
    )

    media = synthetic_png_media(spark, 64, width=8, height=6)
    out = image_stats(media)
    return out.select(
        "media_id", "width", "height", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )


# -------------------------------------------- sampling / dataset splits
# (new scope: deterministic hash-based selection — datapipe/sampling.py)

_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_SAMPLE_RATES = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 0.25}


def _split_sample_oracle() -> str:
    from samyama_graph_spark.datapipe.sampling import (
        BUCKETS,
        hash_bucket_sql,
        split_case_sql,
    )

    b1 = hash_bucket_sql("doc_id", 1)
    rate_case = (
        "CASE "
        + " ".join(
            f"WHEN lang = '{s}' THEN {int(round(r * BUCKETS))}"
            for s, r in sorted(_SAMPLE_RATES.items())
        )
        + " ELSE 0 END"
    )
    split_case = split_case_sql("doc_id", _SPLIT_WEIGHTS, 0)
    return f"""
    SELECT lang, {split_case} AS split,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE {b1} < {rate_case}
    GROUP BY lang, split
    """


@query("doc_split_sample", _split_sample_oracle())
def doc_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified down-sampling (per-language keep rates) composed with
    deterministic train/val/test split assignment — both pure
    projections on the scan (no shuffle until the final count agg), so
    the same pipeline is a single map pass over 100 TB."""
    from samyama_graph_spark.datapipe.sampling import (
        assign_split,
        stratified_sample,
    )

    docs = _docs(spark, sf_dir)
    sampled = stratified_sample(
        docs, "doc_id", _SAMPLE_RATES, strata_col="lang", seed=1
    )
    split = assign_split(sampled, "doc_id", _SPLIT_WEIGHTS, seed=0)
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )


# ------------------------------------------------------ sequence packing

_PACK_BUDGET = 512


@query(
    "sequence_packing",
    f"""
    WITH t AS (SELECT doc_id, lang,
                      len(string_split(text, ' ')) AS toks
               FROM documents),
    p AS (SELECT lang, doc_id, toks,
            COALESCE(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS start
          FROM t)
    SELECT lang AS shard, count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           CAST(ceil(sum(toks) * 1.0 / {_PACK_BUDGET}) AS BIGINT) AS n_packs,
           CAST(sum(CASE
                    WHEN CAST(floor(start * 1.0 / {_PACK_BUDGET}) AS BIGINT)
                    <> CAST(floor((start + greatest(toks - 1, 0)) * 1.0
                                  / {_PACK_BUDGET}) AS BIGINT)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           round((sum(toks) % {_PACK_BUDGET}) * 1.0 / {_PACK_BUDGET}, 6)
               AS tail_fill
    FROM p GROUP BY lang
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM-pretraining
    layout): cumulative-token windows per language shard assign every
    document to its budget-sized chunks; summary per shard.  One
    shuffle (the shard window); window size is bounded by the shard,
    never the corpus."""
    from samyama_graph_spark.datapipe.packing import pack_stats
    from samyama_graph_spark.datapipe.common import tokens

    docs = _docs(spark, sf_dir).withColumn(
        "toks", F.size(tokens(F.col("text")))
    )
    return pack_stats(docs, "toks", _PACK_BUDGET, "lang", "doc_id")


# --------------------------------------------------- near-dup clustering


def _dedup_clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    e(a, b) AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    vn(id) AS (SELECT a FROM e UNION SELECT b FROM e),
    reach(a, b) AS (SELECT id, id FROM vn
                    UNION
                    SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b),
    comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
    SELECT component AS cluster_id, count(*) AS size, min(id) AS keep_id,
           string_agg(id, ',' ORDER BY id) AS member_ids
    FROM comp GROUP BY component
    """


@query("dedup_clusters", _dedup_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: MinHash-LSH pairs -> connected
    components -> one canonical doc per cluster.  The oracle replays
    the full pipeline including the closure (recursive CTE), so cluster
    membership — not just pair counts — is hash-checked."""
    from samyama_graph_spark.datapipe.dedup import dup_clusters

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        k=3,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )
    out = dup_clusters(pairs)
    return out.select(
        "cluster_id", F.col("size").cast("long"), "keep_id", "member_ids"
    )


_SEMDEDUP_ORACLE_TMPL = """
    WITH RECURSIVE
    ee AS (SELECT vec_id AS id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    nrm AS (SELECT id, sqrt(sum(v * v)) AS nrm FROM ee GROUP BY id),
    sd AS ({seeds}),
    sv AS (SELECT sd.cidx, ee.i, ee.v FROM sd JOIN ee ON ee.id = sd.id),
    sn AS (SELECT cidx, sqrt(sum(v * v)) AS snrm FROM sv GROUP BY cidx),
    sims AS (SELECT ee.id, sv.cidx, sum(ee.v * sv.v) AS dp
             FROM ee JOIN sv ON sv.i = ee.i
             GROUP BY ee.id, sv.cidx),
    best AS (SELECT id, CAST(cidx AS BIGINT) AS cluster FROM (
                 SELECT s.id, s.cidx,
                        row_number() OVER (
                            PARTITION BY s.id
                            ORDER BY s.dp / (n.nrm * sn.snrm) DESC, s.cidx
                        ) AS rn
                 FROM sims s
                 JOIN nrm n ON n.id = s.id
                 JOIN sn ON sn.cidx = s.cidx) t
             WHERE rn = 1),
    cand AS (SELECT a.id AS x, b.id AS y
             FROM best a JOIN best b
             ON b.cluster = a.cluster AND b.id > a.id),
    pc AS (SELECT c.x, c.y, sum(ea.v * eb.v) AS dp
           FROM cand c
           JOIN ee ea ON ea.id = c.x
           JOIN ee eb ON eb.id = c.y AND eb.i = ea.i
           GROUP BY c.x, c.y),
    pairs AS (SELECT pc.x, pc.y FROM pc
              JOIN nrm na ON na.id = pc.x
              JOIN nrm nb ON nb.id = pc.y
              WHERE pc.dp / (na.nrm * nb.nrm) >= 0.35),
    e(a, b) AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    vn(id) AS (SELECT a FROM e UNION SELECT b FROM e),
    reach(a, b) AS (SELECT id, id FROM vn
                    UNION
                    SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b),
    comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
    SELECT b.id, b.cluster,
           (c.component IS NULL OR c.component = b.id) AS keep
    FROM best b LEFT JOIN comp c ON c.id = b.id
    """

# target_cluster_size parameterization: k = ceil(n / target) derived in
# BOTH engines (Spark: one count job; DuckDB: scalar subquery), so the
# operator stays linear as data grows — the shape a real user runs at
# scale (the paper's k ~ 10^4-10^5 holds cluster size constant).
_SEMDEDUP_TARGET = 50

_SEMDEDUP_DERIVED_SEEDS = f"""
    SELECT id, cidx FROM (
        SELECT id, row_number() OVER (ORDER BY id) - 1 AS cidx
        FROM (SELECT DISTINCT id FROM ee))
    WHERE cidx < (SELECT CAST(ceil(count(*) / {_SEMDEDUP_TARGET}.0)
                              AS BIGINT) FROM embeddings)
"""

_SEMDEDUP_FIXED_SEEDS = """
    SELECT id, row_number() OVER (ORDER BY id) - 1 AS cidx
    FROM (SELECT DISTINCT id FROM ee ORDER BY id LIMIT 16)
"""


@query(
    "semdedup_verdicts",
    _SEMDEDUP_ORACLE_TMPL.format(seeds=_SEMDEDUP_DERIVED_SEEDS),
)
def semdedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-partitioned semantic
    dedup over the embeddings table — nearest-seed-centroid partition
    with k DERIVED from the data (k = ceil(n / target_cluster_size),
    the parameterization that stays linear as the corpus grows;
    deterministic lowest-id seeds so the oracle replays the clustering
    bit-for-bit), exact within-cluster cosine pairs at the
    data-calibrated tau=0.35, connected-component survivor rule.  The
    oracle derives the same k via a scalar subquery and replays
    assignment, pair mining AND the closure, so every per-row
    (cluster, keep) verdict is hash-checked.  The fixed-k=16 twin
    (the documented quadratic trap) stays pytest-oracled as
    semdedup_fixed_k.  The oracle's assignment rule is the operator's:
    argmax of dot/(|v||c|), ties to the lower cluster id."""
    from samyama_graph_spark.datapipe.dedup import semdedup

    out = semdedup(
        _embs(spark, sf_dir), "embedding", "vec_id", k=None,
        threshold=0.35, target_cluster_size=_SEMDEDUP_TARGET,
    )
    return out.select("id", F.col("cluster").cast("long"), "keep")


@query(
    "semdedup_fixed_k",
    _SEMDEDUP_ORACLE_TMPL.format(seeds=_SEMDEDUP_FIXED_SEEDS),
)
def semdedup_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-k=16 SemDeDup parameterization — kept as the
    pytest-oracled twin of the gate row: a FIXED k makes the
    within-cluster exact stage O(n^2 / k), i.e. quadratic in corpus
    size (the documented scale trap; see semdedup()'s SCALE WARNING
    and the BENCH_SCALE twin rows)."""
    from samyama_graph_spark.datapipe.dedup import semdedup

    out = semdedup(
        _embs(spark, sf_dir), "embedding", "vec_id", k=16, threshold=0.35,
    )
    return out.select("id", F.col("cluster").cast("long"), "keep")


@query(
    "embedding_kmeans",
    """
    WITH
    ee AS (SELECT vec_id AS id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    sd AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS cidx
           FROM (SELECT DISTINCT id FROM ee ORDER BY id LIMIT 8)),
    sv AS (SELECT sd.cidx, ee.i, ee.v FROM sd JOIN ee ON ee.id = sd.id),
    sn AS (SELECT cidx, sqrt(sum(v * v)) AS snrm FROM sv GROUP BY cidx),
    sims0 AS (SELECT ee.id, sv.cidx, sum(ee.v * sv.v) AS dp
              FROM ee JOIN sv ON sv.i = ee.i
              GROUP BY ee.id, sv.cidx),
    best0 AS (SELECT id, cidx AS cluster FROM (
                  SELECT s.id, s.cidx,
                         row_number() OVER (
                             PARTITION BY s.id
                             ORDER BY s.dp / sn.snrm DESC, s.cidx
                         ) AS rn
                  FROM sims0 s JOIN sn ON sn.cidx = s.cidx) t
              WHERE rn = 1),
    cm AS (SELECT b.cluster, ee.i, avg(ee.v) AS v
           FROM best0 b JOIN ee ON ee.id = b.id
           GROUP BY b.cluster, ee.i),
    cf AS (SELECT sv.cidx AS cluster, sv.i, coalesce(cm.v, sv.v) AS v
           FROM sv LEFT JOIN cm ON cm.cluster = sv.cidx AND cm.i = sv.i),
    cn2 AS (SELECT cluster, sqrt(sum(v * v)) AS cnrm FROM cf
            GROUP BY cluster),
    sims1 AS (SELECT ee.id, cf.cluster, sum(ee.v * cf.v) AS dp
              FROM ee JOIN cf ON cf.i = ee.i
              GROUP BY ee.id, cf.cluster),
    best1 AS (SELECT id, CAST(cluster AS BIGINT) AS cluster FROM (
                  SELECT s.id, s.cluster,
                         row_number() OVER (
                             PARTITION BY s.id
                             ORDER BY s.dp / c.cnrm DESC, s.cluster
                         ) AS rn
                  FROM sims1 s JOIN cn2 c ON c.cluster = s.cluster) t
              WHERE rn = 1)
    SELECT id, cluster FROM best1
    """,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means as a first-class curation operator (the
    SemDeDup partition, exposed): k=8 lowest-id seeds, ONE distributed
    Lloyd round (grid-mean centroid update; empty clusters keep their
    seed), cosine-argmax re-assignment (broadcast-codebook
    mapInPandas).  The oracle replays seeds, first assignment, the mean
    update, and the final assignment — every per-vector cluster id is
    hash-checked."""
    from samyama_graph_spark.datapipe.dedup import kmeans

    return kmeans(
        _embs(spark, sf_dir), "embedding", "vec_id", k=8, iters=1
    )


@query(
    "events_asof_join",
    """
    WITH v AS (
        SELECT user_id, ts, max(value) AS r_value
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, ts
    ),
    p AS (
        SELECT user_id, event_id AS eid, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.eid, p.ts, p.value,
           v.ts AS ts_r, v.r_value AS r_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time enrichment): every purchase event
    gets the LATEST view event at-or-before it for the same user —
    the market-data / feature-store lookup shape.  One shuffle per
    key via a tagged-union window (datapipe/timeseries.asof_join), no
    candidate-pair explosion; the oracle is DuckDB's native ASOF
    JOIN, so the semantics (per-key latest, ties-at-equal-ts match)
    are checked against an independent implementation."""
    from samyama_graph_spark.datapipe.timeseries import asof_join

    ev = _events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("r_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("eid"), "ts", "value"
    )
    return asof_join(
        purchases, views, ts_col="ts", by=["user_id"]
    ).select(
        "user_id", "eid", "ts", "value", "ts_r",
        F.col("r_value_r").alias("r_value"),
    )


@query(
    "events_range_join",
    """
    WITH e AS (
        SELECT user_id, event_id AS eid, ts AS start_ts,
               ts + INTERVAL 30 MINUTE AS end_ts
        FROM events WHERE event_type = 'error'
    ),
    c AS (
        SELECT user_id, ts, value
        FROM events WHERE event_type = 'click'
    )
    SELECT e.user_id, e.eid, e.start_ts,
           count(*) AS n_clicks, round(sum(c.value), 4) AS click_value
    FROM e JOIN c
      ON c.user_id = e.user_id
     AND c.ts >= e.start_ts AND c.ts < e.end_ts
    GROUP BY e.user_id, e.eid, e.start_ts
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-point range join: clicks landing inside the 30-minute
    window after each error event, per user, aggregated per interval.
    The bucketed plan (datapipe/timeseries.range_join) quantizes time
    into cells and equi-joins on (user, cell) + residual predicate —
    never the BroadcastNestedLoop cartesian Catalyst would pick for a
    pure inequality join (plan-asserted in tests/test_plans.py)."""
    from samyama_graph_spark.datapipe.timeseries import range_join

    ev = _events(spark, sf_dir)
    half_hour = F.expr("INTERVAL 30 MINUTES")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("eid"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + half_hour).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = range_join(
        errors, clicks,
        key=["user_id"], start_col="start_ts", end_col="end_ts",
        ts_col="ts", bucket_seconds=1800,
    )
    return joined.groupBy("user_id", "eid", "start_ts").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum("value"), 4).alias("click_value"),
    )


def _pipeline_oracle() -> str:
    from samyama_graph_spark.datapipe.sampling import split_case_sql

    # the MinHash pair CTEs rebased from the raw table onto the
    # post-exact-dedup survivor set (docs2)
    mh = _minhash_pair_ctes().replace(
        "tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)",
        "tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs2)",
    )
    assert "FROM docs2" in mh, "shingle CTE rebase failed"
    split_case = split_case_sql("doc_id", _SPLIT_WEIGHTS, 0)
    return f"""
    WITH RECURSIVE
    gtok AS (SELECT doc_id AS id, string_split(text, ' ') AS ws
             FROM documents),
    gbase AS (SELECT id, len(ws) AS n_tokens,
                     len(list_distinct(ws)) AS n_distinct, ws
              FROM gtok),
    gbgi AS (SELECT id, ws, unnest(range(1, len(ws))) AS i
             FROM gbase WHERE len(ws) >= 2),
    gcnt AS (SELECT id, ws[i] || ' ' || ws[i+1] AS bg, count(*) AS c
             FROM gbgi GROUP BY id, 2),
    gtop AS (SELECT id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS total
             FROM gcnt GROUP BY id),
    gsig AS (SELECT b.id, b.n_tokens,
                    CASE WHEN b.n_tokens > 0
                         THEN b.n_distinct * 1.0 / b.n_tokens
                         ELSE 0.0 END AS dr,
                    CASE WHEN COALESCE(t.total, 0) > 0
                         THEN t.top_c * 1.0 / t.total
                         ELSE 0.0 END AS tb
             FROM gbase b LEFT JOIN gtop t ON t.id = b.id),
    keepers AS (SELECT id, CAST(n_tokens AS BIGINT) AS n_tokens FROM gsig
                WHERE n_tokens >= 20 AND n_tokens <= 100000
                  AND dr >= 0.3 AND tb <= 0.2),
    docs1 AS (SELECT d.doc_id, d.text, d.lang, k.n_tokens
              FROM documents d JOIN keepers k ON k.id = d.doc_id),
    ex AS (SELECT min(doc_id) AS keep_id
           FROM docs1 GROUP BY {hash60_sql('text')}),
    docs2 AS (SELECT d.* FROM docs1 d JOIN ex ON ex.keep_id = d.doc_id),
    {mh},
    e(a, b) AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    vn(id) AS (SELECT a FROM e UNION SELECT b FROM e),
    reach(a, b) AS (SELECT id, id FROM vn
                    UNION
                    SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b),
    comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
    drops AS (SELECT id FROM comp WHERE component <> id),
    docs3 AS (SELECT d.* FROM docs2 d
              LEFT JOIN drops ON drops.id = d.doc_id
              WHERE drops.id IS NULL)
    SELECT lang, {split_case} AS split,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
    FROM docs3 GROUP BY lang, split
    """


@query("corpus_pipeline_e2e", _pipeline_oracle())
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline END-TO-END in one entry: hygiene
    gate (Gopher-style length + repetition rules) -> exact dedup ->
    MinHash-LSH near-dup removal with transitive-closure survivor
    selection -> deterministic train/val/test split, reporting doc
    and token counts per (lang, split).  Every stage is the same
    operator the standalone entries check; the composed oracle
    replays the entire chain — gate, content-hash, shingles, banding,
    verification, closure, split hash — so stage INTERACTIONS (e.g.
    dedup running on the filtered set, splits assigned post-dedup)
    are value-checked, not just each stage in isolation."""
    from samyama_graph_spark.datapipe.corpus import corpus_filter
    from samyama_graph_spark.datapipe.dedup import apply_dedup
    from samyama_graph_spark.datapipe.sampling import assign_split

    docs = _docs(spark, sf_dir)
    gate = corpus_filter(docs)
    kept = docs.select("doc_id", "text", "lang").join(
        gate.filter(F.col("keep")).select(
            F.col("id").alias("doc_id"), "n_tokens"
        ),
        "doc_id",
    )
    # exact dedup FUSED into one aggregation (r12): the survivor row
    # per content-hash group IS min(struct(doc_id, ...)) — doc_id is
    # unique, so the struct-min is exactly the min-doc_id row that
    # exact_dedup's (groupBy min + join-back) selected.  One shuffle
    # replaces agg + join-back, and `kept` (scan + gate regexes +
    # gate join) is consumed ONCE, so its former persist/unpersist
    # cycle is gone entirely.  Same argmin-carries-the-row idiom as
    # dedup_lines_corpuswide (r11); exact_dedup itself is unchanged
    # for its standalone gate row.
    from samyama_graph_spark.datapipe.common import hash60

    d2 = (
        kept.groupBy(hash60(F.col("text")).alias("__ch"))
        .agg(
            F.min(
                F.struct("doc_id", "text", "lang", "n_tokens")
            ).alias("__r")
        )
        .select("__r.doc_id", "__r.text", "__r.lang", "__r.n_tokens")
    )
    # d2 feeds three consumers (shingling, candidate verification,
    # survivor anti-join) — without a materialization the parquet scan
    # + gate regexes + dedup aggregation recompute per consumer.  At
    # warehouse scale this is the pipeline's intermediate table write;
    # locally an EAGER localCheckpoint carries it.  Checkpoint, not
    # persist (r12, interleaved A/B: 2.2 s vs 5.2 s median): the
    # lineage truncation makes every downstream stage analyze/build
    # against a tiny LogicalRDD instead of re-deriving the full
    # gate+dedup subplan — ~2 s of the entry was pure driver-side
    # plan analysis of the composed pipeline — and the blocks are a
    # NEW RDD per invocation, so re-runs recompute honestly (no
    # canonicalized-plan cache key to hit) and the bench's
    # post-entry cleanup reclaims them via the ContextCleaner.
    d2 = d2.localCheckpoint(eager=True)
    pairs = minhash_lsh_pairs(
        d2, "text", "doc_id",
        k=3, num_hashes=_MH_HASHES, bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )
    d3 = apply_dedup(d2, pairs, "doc_id")
    out = assign_split(d3, "doc_id", _SPLIT_WEIGHTS, 0)
    return out.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
    )


@query(
    "pack_first_fit_stats",
    """
    WITH d AS (SELECT lang, len(string_split(text, ' ')) AS ntok
               FROM documents)
    SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS tokens,
           CAST(ceil(sum(ntok) / 512.0) AS BIGINT) AS n_packs,
           CAST(sum(CASE WHEN ntok > 512 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oversize
    FROM d GROUP BY lang
    """,
)
def pack_first_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split first-fit-decreasing packing (packing.pack_first_fit)
    summarized per shard.  The greedy itself is not SQL-expressible;
    the oracle checks the bin count against the ceil(total/budget)
    LOWER BOUND, which FFD provably attains on this corpus at every
    shipped SF (verified sf0.001/0.01) — so the value check catches
    any placement bug that wastes a bin (the failure mode packing
    regressions actually have).  Doc-level invariants (every doc
    exactly once, no bin over budget, python-reference parity) are
    covered in tests/test_datapipe.py."""
    from samyama_graph_spark.datapipe.packing import pack_first_fit

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("ntok")
    )
    out = pack_first_fit(d, "ntok", 512, "lang", "doc_id")
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("tokens"),
        (F.max("pack") + 1).cast("long").alias("n_packs"),
        F.sum(F.col("oversize").cast("long")).alias("n_oversize"),
    )


@query(
    "corpus_length_profile",
    """
    WITH d AS (SELECT lang, len(string_split(text, ' ')) AS ntok
               FROM documents)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS tokens,
           round(quantile_cont(ntok, 0.5), 4) AS p50,
           round(quantile_cont(ntok, 0.9), 4) AS p90,
           round(quantile_cont(ntok, 0.99), 4) AS p99,
           CAST(max(ntok) AS BIGINT) AS max_tokens
    FROM d GROUP BY lang
    """,
)
def corpus_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: per-language token-length distribution
    (exact interpolated p50/p90/p99 — Spark's percentile() and
    DuckDB's quantile_cont share the linear-interpolation definition,
    so values hash-match bit-for-bit).  The shape every pipeline runs
    before choosing packing budgets and length filters; one shuffle,
    map-side combined.  At 100 TB the same entry swaps percentile()
    for percentile_approx() (t-digest sketch, still one pass) — exact
    is kept here because the oracle contract demands value equality."""
    d = _docs(spark, sf_dir).select(
        "lang", F.size(F.split("text", " ")).alias("ntok")
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("tokens"),
        F.round(F.expr("percentile(ntok, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(ntok, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(ntok, 0.99)"), 4).alias("p99"),
        F.max("ntok").cast("long").alias("max_tokens"),
    )


# -------------------------------------------------- corpus hygiene (r4)
# Benchmark decontamination, PII scrubbing, repetition filters, length
# bucketing, tf-idf terms — REGISTRY/pytest-oracled (the 50-entry gate
# window is full; these run in the sf0.001 oracle suite).


@query(
    "contamination_overlap",
    f"""
    WITH {_SHINGLES_CTE},
    bsh AS (SELECT DISTINCT s FROM sh
            JOIN documents d ON sh.id = d.doc_id
            WHERE d.source = 'src0'),
    per AS (SELECT sh.id, count(*) AS n_shingles, count(b.s) AS n_hit
            FROM sh LEFT JOIN bsh b ON sh.s = b.s
            GROUP BY sh.id)
    SELECT d.doc_id AS id,
           COALESCE(p.n_shingles, 0) AS n_shingles,
           COALESCE(p.n_hit, 0) AS n_hit,
           CASE WHEN COALESCE(p.n_shingles, 0) > 0
                THEN round(p.n_hit * 1.0 / p.n_shingles, 6)
                ELSE 0.0 END AS overlap
    FROM documents d LEFT JOIN per p ON p.id = d.doc_id
    """,
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination check: distinct-3-gram overlap of every
    corpus doc against the 'src0' source slice standing in as the eval
    benchmark.  Benchmark shingles broadcast; corpus side is map-only."""
    from samyama_graph_spark.datapipe.corpus import contamination_overlap

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("source") == "src0")
    return contamination_overlap(docs, bench, "text", "doc_id", k=3)


_PII_CONTACT_SQL = (
    "text || ' mail u' || doc_id || '@ex.org tel 555-123-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ' ip 10.1.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)"
)


@query(
    "pii_scrub",
    f"""
    WITH w AS (SELECT doc_id, {_PII_CONTACT_SQL} AS contact FROM documents),
    m1 AS (SELECT doc_id, contact,
                  regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
                                 '<EMAIL>', 'g') AS c1
           FROM w),
    m2 AS (SELECT doc_id, contact, c1,
                  regexp_replace(c1, '[0-9]{{3}}-[0-9]{{3,4}}-?[0-9]{{0,4}}',
                                 '<PHONE>', 'g') AS c2
           FROM m1)
    SELECT doc_id AS id,
           regexp_replace(c2, '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}',
                          '<IP>', 'g') AS clean_text,
           len(regexp_extract_all(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS n_email,
           len(regexp_extract_all(c1,
               '[0-9]{{3}}-[0-9]{{3,4}}-?[0-9]{{0,4}}')) AS n_phone,
           len(regexp_extract_all(c2,
               '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS n_ip
    FROM m2
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a deterministic contact-bearing column
    (synthetic corpus carries no real PII, so the fixture splices
    email/phone/IP shapes derived from doc_id — the multimodal
    synthetic-media precedent): mask + count, engine vs oracle."""
    from samyama_graph_spark.datapipe.corpus import pii_scrub

    docs = _docs(spark, sf_dir).withColumn(
        "contact",
        F.concat(
            F.col("text"),
            F.lit(" mail u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org tel 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.1."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ),
    )
    return pii_scrub(docs, "contact", "doc_id")


@query(
    "repetition_metrics",
    """
    WITH tok AS (SELECT doc_id AS id, string_split(text, ' ') AS ws
                 FROM documents),
    base AS (SELECT id, len(ws) AS n_tokens,
                    len(list_distinct(ws)) AS n_distinct, ws
             FROM tok),
    bgi AS (SELECT id, ws, unnest(range(1, len(ws))) AS i
            FROM base WHERE len(ws) >= 2),
    cnt AS (SELECT id, ws[i] || ' ' || ws[i+1] AS bg, count(*) AS c
            FROM bgi GROUP BY id, 2),
    top AS (SELECT id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS total
            FROM cnt GROUP BY id)
    SELECT b.id, b.n_tokens::BIGINT AS n_tokens,
           CASE WHEN b.n_tokens > 0
                THEN round(b.n_distinct * 1.0 / b.n_tokens, 6)
                ELSE 0.0 END AS distinct_ratio,
           CASE WHEN COALESCE(t.total, 0) > 0
                THEN round(t.top_c * 1.0 / t.total, 6)
                ELSE 0.0 END AS top_bigram_frac
    FROM base b LEFT JOIN top t ON t.id = b.id
    """,
)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: distinct-token ratio + top
    bigram fraction per doc (boilerplate/stuffing detection)."""
    from samyama_graph_spark.datapipe.corpus import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "length_buckets",
    """
    SELECT lang AS shard,
           CASE WHEN n <= 1 THEN 1
                ELSE CAST(power(2, ceil(log2(n))) AS BIGINT) END AS bucket,
           count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
    FROM (SELECT lang, len(string_split(text, ' ')) AS n FROM documents)
    GROUP BY 1, 2
    """,
)
def length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length bucketing per language shard — the
    dynamic-batching shaper (padding waste bounded by 2x)."""
    from samyama_graph_spark.datapipe.corpus import length_buckets

    return length_buckets(_docs(spark, sf_dir), "text", "doc_id", "lang")


@query(
    "tfidf_top_terms",
    """
    WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT id, term, count(*) AS tf FROM tok
           WHERE term <> '' GROUP BY id, term),
    dfq AS (SELECT term, count(*) AS df_count FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
    scored AS (SELECT id, term, tf, df_count,
                      round(tf * ln((SELECT nd FROM n) * 1.0 / df_count), 6)
                          AS score
               FROM tf JOIN dfq USING (term)),
    rk AS (SELECT *, row_number() OVER (
               PARTITION BY id ORDER BY score DESC, term ASC) AS rn
           FROM scored)
    SELECT id, term, tf, df_count, score FROM rk
    WHERE rn <= 3 AND id < 50
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 characteristic terms by tf-idf (corpus-wide
    document frequency, deterministic score/term ordering); output
    restricted to doc_id < 50 to keep the comparison frame small."""
    from samyama_graph_spark.datapipe.corpus import tfidf_top_terms

    docs = _docs(spark, sf_dir)
    return tfidf_top_terms(docs, "text", "doc_id", top_k=3).filter(
        F.col("id") < 50
    )


@query(
    "skew_salted_join",
    """
    WITH dim AS (SELECT lang, count(*) AS n_docs,
                        CAST(sum(n_chars) AS BIGINT) AS chars
                 FROM documents GROUP BY lang)
    SELECT d.lang, dim.n_docs, dim.chars,
           count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d JOIN dim USING (lang)
    GROUP BY 1, 2, 3
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join demonstrated end-to-end: the corpus's
    dominant language is a classic skew key; the per-lang dimension is
    replicated across 8 salts so no reducer owns a whole hot key.
    Values must equal the plain join (oracle)."""
    from samyama_graph_spark.datapipe.skew import salted_join

    docs = _docs(spark, sf_dir)
    dim = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    joined = salted_join(docs, dim, "lang", salts=8)
    return joined.groupBy("lang", "n_docs", "chars").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(joined["n_chars"]).cast("long").alias("sum_chars"),
    )


_PQ_M, _PQ_KSUB = 8, 16


def _pq_oracle_sql() -> str:
    """SQL replay of PQ-ADC: sub-centroids = subvectors of the lowest
    16 vec_ids; codes = per-(vector, subspace) argmin L2^2 (tie ->
    lowest centroid); LUT = the query's (vec_id 0) distances to every
    sub-centroid; ADC score = sum of LUT entries at the code indexes."""
    d_sub = 64 // _PQ_M
    return f"""
    WITH ee AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings),
    sub AS (SELECT vec_id, (i - 1) // {d_sub} AS j,
                   (i - 1) % {d_sub} AS d, v
            FROM ee),
    csub AS (SELECT vec_id AS cid, j, d, v AS cv FROM sub
             WHERE vec_id < {_PQ_KSUB}),
    dists AS (SELECT s.vec_id, s.j, c.cid,
                     sum((s.v - c.cv) * (s.v - c.cv)) AS d2
              FROM sub s JOIN csub c ON c.j = s.j AND c.d = s.d
              GROUP BY 1, 2, 3),
    codes AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, cid) AS rn
        FROM dists) WHERE rn = 1),
    adc AS (SELECT v.vec_id, sum(l.d2) AS score
            FROM codes v JOIN dists l
              ON l.vec_id = 0 AND l.j = v.j AND l.cid = v.cid
            GROUP BY v.vec_id)
    SELECT vec_id AS id, round(score, 6) AS score
    FROM adc ORDER BY score, vec_id LIMIT 10
    """


@query("knn_pq_top10", _pq_oracle_sql())
def knn_pq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (FAISS-style ADC read path), fully
    oracle-checked: deterministic codebook (subvectors of the 16
    lowest vec_ids), JVM-side encoding + LUT scoring; the oracle
    replays codes and ADC sums exactly."""
    from samyama_graph_spark.datapipe.similarity import (
        knn_pq_adc,
        pq_codebook,
    )

    embs = _embs(spark, sf_dir)
    train = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(_PQ_KSUB).collect()
    ]
    qv = [
        float(x)
        for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    cb = pq_codebook(train, _PQ_M, _PQ_KSUB)
    out = knn_pq_adc(embs, "embedding", "vec_id", qv, cb, k=10)
    return out.select("id", F.round("score", 6).alias("score"))


@query(
    "corpus_filter_audit",
    """
    WITH tok AS (SELECT doc_id AS id, string_split(text, ' ') AS ws
                 FROM documents),
    base AS (SELECT id, len(ws) AS n_tokens,
                    len(list_distinct(ws)) AS n_distinct, ws
             FROM tok),
    bgi AS (SELECT id, ws, unnest(range(1, len(ws))) AS i
            FROM base WHERE len(ws) >= 2),
    cnt AS (SELECT id, ws[i] || ' ' || ws[i+1] AS bg, count(*) AS c
            FROM bgi GROUP BY id, 2),
    top AS (SELECT id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS total
            FROM cnt GROUP BY id),
    sig AS (SELECT b.id, b.n_tokens::BIGINT AS n_tokens,
                   CASE WHEN b.n_tokens > 0
                        THEN round(b.n_distinct * 1.0 / b.n_tokens, 6)
                        ELSE 0.0 END AS distinct_ratio,
                   CASE WHEN COALESCE(t.total, 0) > 0
                        THEN round(t.top_c * 1.0 / t.total, 6)
                        ELSE 0.0 END AS top_bigram_frac
            FROM base b LEFT JOIN top t ON t.id = b.id),
    audit AS (SELECT *,
        CASE WHEN n_tokens < 20 THEN 'too_short'
             WHEN n_tokens > 100000 THEN 'too_long'
             WHEN distinct_ratio < 0.3 THEN 'low_diversity'
             WHEN top_bigram_frac > 0.2 THEN 'repetitive'
        END AS drop_reason
        FROM sig)
    SELECT COALESCE(drop_reason, 'kept') AS outcome,
           count(*) AS n, CAST(sum(n_tokens) AS BIGINT) AS tokens
    FROM audit GROUP BY 1
    """,
)
def corpus_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training keep/drop gate with per-reason audit
    counts — the end-to-end filter pipeline shape (first failed rule
    wins; survivors counted under 'kept')."""
    from samyama_graph_spark.datapipe.corpus import corpus_filter

    out = corpus_filter(_docs(spark, sf_dir))
    return out.groupBy(
        F.coalesce("drop_reason", F.lit("kept")).alias("outcome")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").cast("long").alias("tokens"),
    )


@query(
    "dedup_apply",
    f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    e(a, b) AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    vn(id) AS (SELECT a FROM e UNION SELECT b FROM e),
    reach(a, b) AS (SELECT id, id FROM vn
                    UNION
                    SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b),
    comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
    drops AS (SELECT id FROM comp WHERE component <> id)
    SELECT d.lang, count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.id = d.doc_id)
    GROUP BY d.lang
    """,
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup application: MinHash-LSH pairs -> transitive
    clusters -> canonical-survivor corpus, summarized per language;
    the oracle replays the closure and the anti-join."""
    from samyama_graph_spark.datapipe.dedup import apply_dedup

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id",
        k=3, num_hashes=_MH_HASHES, bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )
    kept = apply_dedup(docs, pairs, "doc_id")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@query(
    "minhash_incremental",
    f"""
    WITH {_minhash_pair_ctes()}
    SELECT x, y, jacc FROM pairs
    WHERE x % 2 = 1 OR y % 2 = 1
    """,
)
def minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: even doc_ids stand in for the
    indexed corpus (at-rest band buckets + shingle hashes), odd ids
    for the new batch; the batch dedups against index-plus-batch
    without re-shingling the corpus.  Must equal the full-corpus pair
    set minus old-old pairs — the oracle computes exactly that."""
    from samyama_graph_spark.datapipe.dedup import (
        minhash_incremental_pairs,
        minhash_index,
    )

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx_bkts, idx_sh = minhash_index(
        old, "text", "doc_id", k=3, num_hashes=_MH_HASHES, bands=_MH_BANDS
    )
    out = minhash_incremental_pairs(
        new, idx_bkts, idx_sh, "text", "doc_id",
        k=3, num_hashes=_MH_HASHES, bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )
    return out.select("x", "y", F.round("jacc", 6).alias("jacc"))


@query(
    "hypertable_rollup",
    """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY 1, 2
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup chain: hourly rollup of raw events,
    then the DAILY view derived by re-aggregating the hourly rollup —
    never re-reading raw events.  The oracle computes daily directly
    from the raw table, so the algebraic re-aggregation must be exact."""
    from samyama_graph_spark.datapipe.timeseries import (
        reaggregate,
        time_rollup,
    )

    events = load_tables(spark, sf_dir, ["events"])["events"]
    hourly = time_rollup(events, "ts", "1 hour", ["event_type"], "value")
    daily = reaggregate(hourly, "1 day", ["event_type"])
    return daily.select(
        "event_type", "bucket_start",
        F.col("n").cast("long"), F.round("total", 4).alias("total"),
    )


@query(
    "rag_text_chunks",
    """
    WITH n AS (
        SELECT doc_id, text,
               CASE WHEN length(text) <= 200 THEN 1
                    ELSE 1 + CAST(CEIL((length(text) - 200) / 160.0) AS BIGINT)
               END AS nc
        FROM documents
    ),
    e AS (
        SELECT doc_id, text, unnest(generate_series(0, nc - 1)) AS i FROM n
    )
    SELECT doc_id AS id, CAST(i AS BIGINT) AS chunk_index,
           substring(text, CAST(i * 160 + 1 AS INT), 200) AS chunk_text,
           CAST(length(substring(text, CAST(i * 160 + 1 AS INT), 200))
                AS BIGINT) AS n_chunk_chars
    FROM e
    """,
)
def rag_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG auto-embed text splitting (reference src/embed/mod.rs:83):
    every document sliced into 200-char windows with 40-char overlap
    (stride 160), the deterministic half of the embed pipeline — the
    LLM embedding call itself is the out-of-scope external boundary.
    sequence + explode + substring, map-only; the oracle replays the
    same walk with generate_series."""
    from samyama_graph_spark.datapipe.text import split_text_chunks

    return split_text_chunks(
        _docs(spark, sf_dir), "text", "doc_id", chunk_size=200, overlap=40
    )


# --------------------------------------------------------------------------
# Training-data mixture resampling + GNN neighbor sampling
# --------------------------------------------------------------------------

_MIX_SHARES = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_MIX_SEED = 5


def _mix_oracle() -> str:
    from samyama_graph_spark.datapipe.sampling import hash_bucket_sql

    total = sum(_MIX_SHARES.values())
    values = ", ".join(
        f"('{g}', {_MIX_SHARES[g] / total!r})" for g in sorted(_MIX_SHARES)
    )
    return f"""
    WITH shares(source, share) AS (VALUES {values}),
    counts AS (
        SELECT d.source, count(*) AS n
        FROM documents d JOIN shares s ON s.source = d.source
        GROUP BY d.source
    ),
    feas AS (
        SELECT MIN(c.n / s.share) AS total
        FROM counts c JOIN shares s ON s.source = c.source
    ),
    rates AS (
        SELECT c.source,
               FLOOR(((s.share * f.total) / c.n) * 10000) AS thr
        FROM counts c JOIN shares s ON s.source = c.source CROSS JOIN feas f
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {hash_bucket_sql('d.doc_id', _MIX_SEED)} < r.thr
    """


def _gnn_oracle() -> str:
    from samyama_graph_spark.datapipe.sampling import neighbor_sample_sql

    return f"""
    WITH l1 AS (
        SELECT o_custkey AS c, o_orderkey AS o FROM orders
        {neighbor_sample_sql('o_custkey', 'o_orderkey', 3, seed=7)}
    ),
    e2 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
           WHERE l_orderkey IN (SELECT o FROM l1)),
    l2 AS (SELECT o, p FROM e2 {neighbor_sample_sql('o', 'p', 2, seed=8)})
    SELECT l1.c AS custkey, l1.o AS orderkey, l2.p AS partkey
    FROM l1 JOIN l2 ON l2.o = l1.o
    """


@query("doc_mixture_resample", _mix_oracle())
def doc_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture resampling (Pile/DoReMi-style static
    mixture): downsample each source to hit target shares at the
    largest feasible corpus size (no upsampling).  The rates frame is a
    tiny broadcast; the corpus pass is map-only; membership is a pure
    function of (doc_id, seed, group counts) so the oracle replays the
    identical FLOOR-bucket arithmetic.  New scope beyond the reference
    (no sampling surface there), same layer as dedup/similarity."""
    from samyama_graph_spark.datapipe.sampling import resample_mixture

    return resample_mixture(
        _docs(spark, sf_dir), "doc_id", "source", _MIX_SHARES, seed=_MIX_SEED
    ).select("doc_id", "source")


@query("gnn_neighbor_sample", _gnn_oracle())
def gnn_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-layer GNN minibatch sampling (GraphSAGE fan-out) over the
    customer->order->part bipartite chain: ≤3 orders per customer, then
    ≤2 parts per sampled order.  Hash-ranked winners make the block
    stable under repartitioning; block size is bounded by
    seeds*3*2 regardless of hub degree — at 100 TB the frontier
    semi-join keeps layer 2's window on sampled orders only.  Oracle:
    the same seeded hash ranking via QUALIFY row_number()."""
    from samyama_graph_spark.datapipe.sampling import neighbor_sample

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    l1 = neighbor_sample(
        t["orders"].select(
            F.col("o_custkey").alias("c"), F.col("o_orderkey").alias("o")
        ),
        "c", "o", k=3, seed=7,
    )
    edges2 = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .join(l1.select("o").distinct(), "o", "left_semi")
    )
    l2 = neighbor_sample(edges2, "o", "p", k=2, seed=8)
    return l1.join(l2, "o").select(
        F.col("c").alias("custkey"),
        F.col("o").alias("orderkey"),
        F.col("p").alias("partkey"),
    )


@query(
    "text_lm_quality",
    """
    WITH tok AS (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    t2 AS (SELECT id, term FROM tok WHERE term <> ''),
    counts AS (SELECT term, count(*) AS cnt FROM t2 GROUP BY term),
    total AS (SELECT SUM(cnt) AS tot FROM counts),
    logp AS (
        SELECT term, LN(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS logp
        FROM counts, total
    )
    SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(logp), 6) AS avg_logprob
    FROM t2 JOIN logp USING (term)
    GROUP BY id
    """,
)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (CCNet-style perplexity proxy) over
    the documents corpus: vocabulary agg + logprob join + per-doc
    mean, all JVM-side — the deterministic stand-in for the external
    KenLM scoring stage of a real filtering pipeline."""
    from samyama_graph_spark.datapipe.corpus import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "quality_quantile_buckets",
    """
    WITH tok AS (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    t2 AS (SELECT id, term FROM tok WHERE term <> ''),
    counts AS (SELECT term, count(*) AS cnt FROM t2 GROUP BY term),
    total AS (SELECT SUM(cnt) AS tot FROM counts),
    logp AS (
        SELECT term, LN(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS logp
        FROM counts, total
    ),
    scored AS (
        SELECT id, ROUND(AVG(logp), 6) AS s
        FROM t2 JOIN logp USING (term) GROUP BY id
    ),
    qs AS (
        SELECT percentile_disc(1.0/3) WITHIN GROUP (ORDER BY s) AS q1,
               percentile_disc(2.0/3) WITHIN GROUP (ORDER BY s) AS q2
        FROM scored
    )
    SELECT id,
           CAST(CASE WHEN s > q1 THEN 1 ELSE 0 END
                + CASE WHEN s > q2 THEN 1 ELSE 0 END AS INT) AS bucket,
           CASE CAST(CASE WHEN s > q1 THEN 1 ELSE 0 END
                     + CASE WHEN s > q2 THEN 1 ELSE 0 END AS INT)
                WHEN 0 THEN 'tail' WHEN 1 THEN 'middle' ELSE 'head'
           END AS bucket_label
    FROM scored, qs
    """,
)
def quality_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (Wenzek et al. 2020): score
    every document with the unigram LM proxy, compute the two exact
    tercile boundaries with ONE distributed percentile_disc aggregate
    (two floats to the driver — no global sort), and bucket map-only.
    The oracle replays scores, boundaries, and the strict-> tie rule,
    so every per-doc bucket assignment is hash-checked."""
    from samyama_graph_spark.datapipe.corpus import (
        quality_buckets,
        unigram_logprob,
    )

    scored = unigram_logprob(_docs(spark, sf_dir), "text", "doc_id")
    out = quality_buckets(
        scored, "avg_logprob", 3, labels=["tail", "middle", "head"]
    )
    return out.select("id", "bucket", "bucket_label")


@query(
    "gopher_quality_rules",
    """
    WITH w AS (
        SELECT doc_id AS id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS words,
               string_split(text, chr(10)) AS lines
        FROM documents
    ),
    m AS (
        SELECT id,
            CAST(len(words) AS BIGINT) AS n_words,
            CASE WHEN len(words) > 0 THEN round(
                CAST(coalesce(list_sum(list_transform(words,
                    x -> length(x))), 0) AS DOUBLE) / len(words), 6)
                ELSE 0.0 END AS mean_word_len,
            CASE WHEN len(words) > 0 THEN round(
                CAST(len(list_filter(words,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                / len(words), 6) ELSE 0.0 END AS alpha_word_frac,
            CASE WHEN len(words) > 0 THEN round(
                ((length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '...', ''))) / 3.0
                 + (length(text) - length(replace(text, '…', ''))))
                / len(words), 6) ELSE 0.0 END AS symbol_word_ratio,
            CASE WHEN len(lines) > 0 THEN round(
                CAST(len(list_filter(lines,
                    l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
                / len(lines), 6) ELSE 0.0 END AS bullet_line_frac,
            CASE WHEN len(lines) > 0 THEN round(
                CAST(len(list_filter(lines,
                    l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                    AS DOUBLE)
                / len(lines), 6) ELSE 0.0 END AS ellipsis_line_frac,
            CASE WHEN len(lines) > 0 THEN round(
                CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                / len(lines), 6) ELSE 0.0 END AS dup_line_frac,
            CASE WHEN coalesce(list_sum(list_transform(lines,
                    l -> length(l))), 0) > 0 THEN round(
                CAST(coalesce(list_sum(list_transform(lines,
                        l -> length(l))), 0)
                     - coalesce(list_sum(list_transform(
                        list_distinct(lines), l -> length(l))), 0)
                    AS DOUBLE)
                / coalesce(list_sum(list_transform(lines,
                    l -> length(l))), 0), 6) ELSE 0.0 END
                AS dup_line_char_frac,
            CAST(len(list_distinct(list_intersect(
                list_transform(words, x -> lower(x)),
                ['the','be','to','of','and','that','have','with']
            ))) AS BIGINT) AS stop_hits
        FROM w
    )
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3
            AND alpha_word_frac >= 0.8
            AND stop_hits >= 2
            AND dup_line_frac <= 0.3
            AND dup_line_char_frac <= 0.3) AS passes
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher quality-filter rule set (Rae et al. 2021, table
    A1) over the documents corpus: per-doc word/line/symbol/stop-word
    /duplicate-line metrics plus the combined ``passes`` verdict, all
    in one map-only JVM-HOF projection (zero shuffles — the 100 TB
    posture of a pre-training quality pass).  The oracle replays every
    metric and threshold in DuckDB list functions, so each per-doc
    verdict is hash-checked."""
    from samyama_graph_spark.datapipe.corpus import gopher_rules

    return gopher_rules(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "source_quota_sample",
    """
    SELECT doc_id, source, CAST(rank AS INT) AS rank
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS rank
        FROM documents
    ) WHERE rank <= 10
    """,
)
def source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing (C4/RefinedWeb-style per-host caps): keep the
    10 longest documents per source, deterministic tie-break on doc
    id.  One shuffle on the source key, per-key row_number, no global
    sort; every surviving (doc, source, rank) row is hash-checked
    against the oracle's identical window."""
    from samyama_graph_spark.datapipe.sampling import source_quota

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    out = source_quota(
        docs, "doc_id", "source", quota=10, order_col="n_chars"
    )
    return out.select("doc_id", "source", F.col("rank").cast("int"))


@query(
    "dedup_lines_corpuswide",
    """
    WITH l0 AS (
        SELECT doc_id AS id, string_split(text, chr(10)) AS l
        FROM documents
    ),
    lines AS (
        SELECT id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS ln
        FROM l0
    ),
    ranked AS (
        SELECT id, pos,
               row_number() OVER (PARTITION BY ln ORDER BY id, pos) AS rn
        FROM lines WHERE ln <> ''
    ),
    dropped AS (SELECT id, pos FROM ranked WHERE rn > 1),
    keptl AS (
        SELECT l.id, l.pos, l.ln
        FROM lines l LEFT JOIN dropped d
          ON d.id = l.id AND d.pos = l.pos
        WHERE d.id IS NULL
    ),
    reb AS (
        SELECT id, string_agg(ln, chr(10) ORDER BY pos) AS text2,
               count(*) AS keptn
        FROM keptl GROUP BY id
    ),
    tot AS (
        SELECT doc_id AS id,
               len(string_split(text, chr(10))) AS totn
        FROM documents
    )
    SELECT d.doc_id, COALESCE(r.text2, '') AS text,
           CAST(t.totn - COALESCE(r.keptn, 0) AS BIGINT) AS removed_lines
    FROM documents d
    LEFT JOIN reb r ON r.id = d.doc_id
    JOIN tot t ON t.id = d.doc_id
    """,
)
def dedup_lines_corpuswide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide line/paragraph dedup: every non-empty
    line keeps its FIRST occurrence ((doc id, position) argmin) and
    later occurrences are stripped in place.  The oracle replays the
    hash-free equivalent (rank over the literal line), so the
    rewritten text of every document is hash-checked."""
    from samyama_graph_spark.datapipe.dedup import dedup_lines

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return dedup_lines(docs, "text", "doc_id")


# ------------------------------------------------- DSIR data selection

_DSIR_BUCKETS = 4096


def _dsir_oracle() -> str:
    h = hash60_sql("ng")
    return f"""
    WITH tokd AS (SELECT doc_id AS id, string_split(text, ' ') AS ws
                  FROM documents),
    uni AS (SELECT id, unnest(ws) AS ng FROM tokd),
    bidx AS (SELECT id, ws, unnest(range(1, len(ws))) AS i
             FROM tokd WHERE len(ws) >= 2),
    bi AS (SELECT id, ws[i] || ' ' || ws[i+1] AS ng FROM bidx),
    feats AS (SELECT id, ng FROM uni WHERE ng <> ''
              UNION ALL SELECT id, ng FROM bi),
    fb AS (SELECT id, ({h}) % {_DSIR_BUCKETS} AS bucket FROM feats),
    tf AS (SELECT fb.* FROM fb
           JOIN documents d ON d.doc_id = fb.id AND d.lang = 'en'),
    raw_h AS (SELECT bucket, count(*) AS rc FROM fb GROUP BY bucket),
    tgt_h AS (SELECT bucket, count(*) AS tc FROM tf GROUP BY bucket),
    tot AS (SELECT (SELECT count(*) FROM fb) AS rt,
                   (SELECT count(*) FROM tf) AS tt),
    w AS (SELECT r.bucket,
                 ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + {_DSIR_BUCKETS}))
               - ln((r.rc + 1.0) / (tot.rt + {_DSIR_BUCKETS})) AS llr
          FROM raw_h r LEFT JOIN tgt_h t USING (bucket), tot)
    SELECT fb.id, CAST(count(*) AS BIGINT) AS n_features,
           round(avg(w.llr), 6) AS avg_llr
    FROM fb JOIN w USING (bucket)
    GROUP BY fb.id
    """


@query("dsir_weights", _dsir_oracle())
def dsir_weights_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) with the corpus's
    English subset as the target distribution: every raw doc scored by
    mean hashed-unigram+bigram log-likelihood ratio toward the target.
    The oracle replays hashing (same md5 family), both histograms,
    Laplace smoothing, and the per-doc mean bit-for-bit."""
    from samyama_graph_spark.datapipe.corpus import dsir_weights

    docs = _docs(spark, sf_dir)
    # target = the English SUBSET of the raw corpus -> the single-scan
    # stats path: one histogram job computes rc and tc together, so the
    # operator reads the corpus twice total (stats + returned scoring
    # plan) instead of three times
    return dsir_weights(
        docs,
        None,
        "text",
        "doc_id",
        buckets=_DSIR_BUCKETS,
        target_filter=F.col("lang") == "en",
    )
