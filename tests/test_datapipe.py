"""Datapipe operator tests beyond the oracle gate: approximate-recall
guarantees, multimodal plumbing, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from samyama_graph_spark.datapipe.multimodal import extract_features, synthetic_media
from samyama_graph_spark.datapipe.similarity import knn_bruteforce, knn_lsh
from samyama_graph_spark.loaders import load_tables


def _query_vec(embs):
    return [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]


def test_knn_lsh_recall(spark, sf_dir):
    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    qv = _query_vec(embs)
    exact = {r["id"] for r in knn_bruteforce(embs, "embedding", "vec_id", qv, 10).collect()}
    approx = {r["id"] for r in knn_lsh(embs, "embedding", "vec_id", qv, 10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall} ({exact} vs {approx})"


def test_knn_l2_and_dot(spark, sf_dir):
    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    qv = _query_vec(embs)
    l2 = knn_bruteforce(embs, "embedding", "vec_id", qv, 5, metric="l2").collect()
    assert l2[0]["id"] == 0 and abs(l2[0]["score"]) < 1e-9  # self has distance 0
    dp = knn_bruteforce(embs, "embedding", "vec_id", qv, 5, metric="dot").collect()
    assert len(dp) == 5


def test_multimodal_features(spark):
    media = synthetic_media(spark, 16)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 16
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[3]["n_bytes"] == len(b"payload-3")
    assert len(by_id[3]["feature"]) == 8
    # deterministic: same input -> same feature
    feats2 = extract_features(synthetic_media(spark, 16), dim=8).collect()
    assert {r["media_id"]: r["feature"] for r in feats2} == {
        r["media_id"]: r["feature"] for r in feats
    }


def test_knn_ivf_recall(spark, sf_dir):
    from samyama_graph_spark.datapipe.similarity import knn_ivf

    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(16).collect()
    ]
    qv = _query_vec(embs)
    exact = {r["id"] for r in knn_bruteforce(embs, "embedding", "vec_id", qv, 10).collect()}
    approx = {
        r["id"]
        for r in knn_ivf(embs, "embedding", "vec_id", qv, cents, 10, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall too low: {recall}"
    assert 0 in approx  # the query vector itself lives in a probed cell


def test_embedding_near_dup_default_is_blocked(spark, sf_dir):
    """The no-block_col default must be LSH-blocked, not all-pairs:
    results are a subset of the exact pairs, the plan joins on a real
    key (no constant-key self-join), and the explicit exact opt-in
    remains the reference answer."""
    from samyama_graph_spark.datapipe.dedup import embedding_near_dups

    import numpy as np

    # plant true near-dups: 100 random base vectors + 20 tiny
    # perturbations (cos ~0.999); random vectors alone have no pairs
    # above cos 0.5 in 64-d, so the threshold regime stays realistic
    rng = np.random.default_rng(7)
    base = rng.normal(size=(100, 64))
    rows = [(i, base[i].tolist()) for i in range(100)]
    rows += [
        (100 + j, (base[j] + rng.normal(scale=0.01, size=64)).tolist())
        for j in range(20)
    ]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    exact = embedding_near_dups(
        embs, "embedding", "vec_id", threshold=0.95, exact_all_pairs=True
    )
    approx = embedding_near_dups(
        embs, "embedding", "vec_id", threshold=0.95, num_tables=8
    )
    exact_pairs = {(r["x"], r["y"]) for r in exact.collect()}
    approx_pairs = {(r["x"], r["y"]) for r in approx.collect()}
    assert len(exact_pairs) >= 20  # every planted pair found exactly
    assert approx_pairs <= exact_pairs
    assert len(approx_pairs) / len(exact_pairs) >= 0.5
    # the candidate join key is the exploded (table, bucket) struct —
    # a constant-key cross join would show a trivial equality instead
    plan = approx._jdf.queryExecution().optimizedPlan().toString()
    assert "blk" in plan


def test_image_resize_real_pixels(spark):
    """Nearest-neighbor resize must produce decodable PNGs with the
    expected dimensions and pixels sampled from the source pattern."""
    from samyama_graph_spark.datapipe.multimodal import (
        image_resize,
        png_decode,
        synthetic_png_media,
    )

    media = synthetic_png_media(spark, 4, width=8, height=6)
    out = {r["media_id"]: r for r in image_resize(media, 4, 3).collect()}
    assert len(out) == 4
    for k, r in out.items():
        assert (r["meta"]["width"], r["meta"]["height"]) == (4, 3)
        w, h, ch, px = png_decode(bytes(r["content"]))
        assert (w, h, ch) == (4, 3, 3)
        # nearest-neighbor: output pixel (x,y) == source pixel (2x, 2y)
        for y in range(3):
            for x in range(4):
                off = (y * 4 + x) * 3
                sx, sy = 2 * x, 2 * y
                assert px[off] == (7 * k + 3 * sx + 5 * sy) % 256
                assert px[off + 1] == (11 * k + sx + 2 * sy) % 256


def test_video_frame_sampling(spark):
    """SVID container parsing is real: every_n sampling yields the
    right frame numbers and each frame decodes to the seeded pattern;
    the exploded frames compose with the image feature stage."""
    from samyama_graph_spark.datapipe.multimodal import (
        extract_features,
        png_decode,
        synthetic_video_media,
        video_frame_sample,
    )

    vids = synthetic_video_media(spark, 3, frames=6, width=4, height=3)
    frames = video_frame_sample(vids, every_n=2)
    rows = frames.collect()
    assert sorted({r["frame_no"] for r in rows}) == [0, 2, 4]
    assert len(rows) == 3 * 3
    r = next(x for x in rows if x["media_id"] == 1 and x["frame_no"] == 2)
    w, h, ch, px = png_decode(bytes(r["frame"]))
    seed = 1 * 6 + 2
    assert (w, h) == (4, 3) and px[0] == (7 * seed) % 256
    # frames feed the image pipeline downstream (media-shaped columns)
    feats = extract_features(
        frames.select(
            (F.col("media_id") * 100 + F.col("frame_no")).alias("media_id"),
            F.col("frame").alias("content"),
        ),
        dim=4,
    )
    assert feats.count() == 9


def test_ivf_partitioned_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The at-rest IVF index (cell-partitioned parquet) must (a) return
    the same rows as the in-memory IVF path and (b) prune to the nprobe
    cell directories at the file source — the property that makes the
    index sublinear at corpus scale."""
    from samyama_graph_spark.datapipe.similarity import (
        ivf_write_partitioned,
        knn_ivf,
        knn_ivf_partitioned,
    )

    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(16).collect()
    ]
    qv = _query_vec(embs)
    path = str(tmp_path / "ivf_idx")
    ivf_write_partitioned(embs, "embedding", cents, path)

    part = knn_ivf_partitioned(
        spark, path, "embedding", "vec_id", qv, cents, 10, nprobe=4
    )
    mem = knn_ivf(embs, "embedding", "vec_id", qv, cents, 10, nprobe=4)
    assert [(r["id"], round(r["score"], 9)) for r in part.collect()] == [
        (r["id"], round(r["score"], 9)) for r in mem.collect()
    ]
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__ivf_cell" in plan


def test_bpe_token_stats(spark, sf_dir):
    from samyama_graph_spark.datapipe.text import bpe_token_stats

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    out = bpe_token_stats(docs, "text", "doc_id").collect()
    assert len(out) == docs.count()
    assert all(r["n_subtokens"] >= r["n_distinct_subtokens"] > 0 for r in out)


# ------------------------------------------------- sampling / splits


def test_assign_split_deterministic_partition(spark):
    from samyama_graph_spark.datapipe.sampling import assign_split

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = assign_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = {r["split"]: r["n"] for r in
            out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    # every row in exactly one split; proportions roughly honored
    assert sum(rows.values()) == 1000
    assert rows["train"] > 700
    assert 40 < rows["val"] + rows["test"] < 300
    # stability: same assignment on a re-shuffled subset
    sub = assign_split(
        df.filter(F.col("doc_id") % 3 == 0).repartition(7),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    joined = out.withColumnRenamed("split", "s1").join(sub.withColumnRenamed("split", "s2"), "doc_id")
    assert joined.filter(F.col("s1") != F.col("s2")).count() == 0


def test_stratified_sample_rates(spark):
    from samyama_graph_spark.datapipe.sampling import stratified_sample

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("grp"),
    )
    out = stratified_sample(df, "doc_id", {"a": 1.0, "b": 0.1}, strata_col="grp")
    counts = {r["grp"]: r["n"] for r in
              out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["a"] == 1000          # rate 1.0 keeps everything
    assert 40 <= counts.get("b", 0) <= 250  # ~10%
    # stratum not in the dict is dropped
    df2 = df.withColumn("grp", F.lit("zz"))
    assert stratified_sample(df2, "doc_id", {"a": 1.0}, strata_col="grp").count() == 0


def test_sample_exact_k(spark):
    from samyama_graph_spark.datapipe.sampling import sample_exact_k

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("grp"),
    )
    out = sample_exact_k(df, "doc_id", 7, strata_col="grp")
    per = out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r["n"] == 7 for r in per) and len(per) == 5
    out2 = sample_exact_k(df, "doc_id", 13)
    assert out2.count() == 13


# ------------------------------------------------------ sequence packing


def test_pack_chunks_boundaries(spark):
    from samyama_graph_spark.datapipe.packing import pack_chunks, pack_stats

    rows = [(i, "s", t) for i, t in enumerate([100, 100, 100, 100, 150])]
    df = spark.createDataFrame(rows, "doc_id long, shard string, toks long")
    out = {r["doc_id"]: r for r in
           pack_chunks(df, "toks", 256, "shard", "doc_id").collect()}
    # cumulative starts: 0,100,200,300,400; budget 256
    assert [out[i]["start_tok"] for i in range(5)] == [0, 100, 200, 300, 400]
    assert [out[i]["first_pack"] for i in range(5)] == [0, 0, 0, 1, 1]
    # doc 2 spans packs 0-1 (200..299), doc 4 spans 1-2 (400..549)
    assert out[2]["n_splits"] == 1 and out[4]["n_splits"] == 1
    st = pack_stats(df, "toks", 256, "shard", "doc_id").collect()[0]
    assert st["n_docs"] == 5 and st["n_tokens"] == 550
    assert st["n_packs"] == 3 and st["n_split_docs"] == 2
    assert abs(st["tail_fill"] - (550 % 256) / 256.0) < 1e-6


# --------------------------------------------------- dup clustering


def test_dup_clusters_transitive_and_singletons(spark):
    from samyama_graph_spark.datapipe.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "x long, y long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    out = {r["cluster_id"]: r for r in dup_clusters(pairs, nodes).collect()}
    assert out[1]["size"] == 3 and out[1]["member_ids"] == "1,2,3"
    assert out[5]["size"] == 2 and out[5]["keep_id"] == 5
    assert out[4]["size"] == 1 and out[7]["size"] == 1  # singletons joined in
    assert len(out) == 4


# --------------------------------------------------- text normalization


def test_normalize_text(spark):
    from samyama_graph_spark.datapipe.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "Visit https://x.com/a?b=c  NOW or mail Bob.Smith+1@ex.org  please"),
            (2, "no  links\there"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in normalize_text(df, "text", "doc_id").collect()}
    assert out[1]["norm_text"] == "visit <url> now or mail <email> please"
    assert out[1]["n_urls"] == 1 and out[1]["n_emails"] == 1
    assert out[2]["norm_text"] == "no links here"
    assert out[2]["n_urls"] == 0 and out[2]["n_emails"] == 0
    assert out[2]["n_chars_norm"] == len("no links here")


def test_contamination_overlap_bounds(spark):
    from samyama_graph_spark.datapipe.corpus import contamination_overlap

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # fully inside the benchmark
            (2, "x y z w q"),          # disjoint
            (3, "a b c x y z"),        # half: {a b c, b c x, c x y, x y z}
            (4, "aa"),                 # too short: no shingles
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e f")], "doc_id long, text string"
    )
    out = {
        r["id"]: r
        for r in contamination_overlap(docs, bench, "text", "doc_id").collect()
    }
    assert out[1]["overlap"] == 1.0
    assert out[2]["overlap"] == 0.0
    assert out[3]["n_shingles"] == 4 and out[3]["n_hit"] == 1
    assert out[4]["n_shingles"] == 0 and out[4]["overlap"] == 0.0


def test_pii_scrub_masks(spark):
    from samyama_graph_spark.datapipe.corpus import pii_scrub

    df = spark.createDataFrame(
        [(1, "write bob@x.io or call 555-123-4567 from 10.0.0.1 ok")],
        "doc_id long, text string",
    )
    row = pii_scrub(df, "text", "doc_id").collect()[0]
    assert row["clean_text"] == "write <EMAIL> or call <PHONE> from <IP> ok"
    assert (row["n_email"], row["n_phone"], row["n_ip"]) == (1, 1, 1)


def test_repetition_metrics_flags_boilerplate(spark):
    from samyama_graph_spark.datapipe.corpus import repetition_metrics

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ fully")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in repetition_metrics(df, "text", "doc_id").collect()}
    assert out[1]["distinct_ratio"] == 0.25
    assert out[1]["top_bigram_frac"] == 1.0  # "spam spam" x3 of 3
    assert out[2]["distinct_ratio"] == 1.0
    assert out[2]["top_bigram_frac"] == 0.25


def test_length_buckets_powers_of_two(spark):
    from samyama_graph_spark.datapipe.corpus import length_buckets

    df = spark.createDataFrame(
        [(1, "a", "en"), (2, "a b c", "en"), (3, " ".join(["w"] * 100), "de")],
        "doc_id long, text string, lang string",
    )
    out = {
        (r["shard"], r["bucket"]): r["n_docs"]
        for r in length_buckets(df, "text", "doc_id", "lang").collect()
    }
    assert out[("en", 1)] == 1
    assert out[("en", 4)] == 1
    assert out[("de", 128)] == 1


def test_contamination_corpus_side_is_broadcast(spark):
    """The benchmark side must broadcast: the corpus-side pass may not
    shuffle on shingle (map-only at 100 TB)."""
    from samyama_graph_spark.datapipe.corpus import contamination_overlap

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id long, text string"
    )
    out = contamination_overlap(docs, docs, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # exactly ONE shingle-key exchange: the benchmark-side distinct
    # (eval-sized).  The corpus side probes the broadcast — a second
    # hashpartitioning(s...) would mean the 100 TB side shuffles.
    assert plan.count("hashpartitioning(s#") == 1, plan


def test_salted_join_matches_plain(spark):
    from samyama_graph_spark.datapipe.skew import salted_join

    big = spark.range(0, 5000).select(
        (F.when(F.col("id") % 10 < 8, "hot").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))
        )).alias("k"),
        F.col("id").alias("v"),
    )
    small = big.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    plain = big.join(small, "k").select("k", "v", "n")
    salted = salted_join(big, small, "k", salts=8).select("k", "v", "n")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    # the physical join key really carries the salt (skew is spread)
    pre = salted_join(big, small, "k", salts=8)
    assert "__salt" in pre._jdf.queryExecution().executedPlan().toString()
    # left join keeps unmatched big rows exactly once
    small2 = small.filter(F.col("k") != "hot")
    pl = big.join(small2, "k", "left").select("k", "v", "n")
    sl = salted_join(big, small2, "k", salts=4, how="left").select("k", "v", "n")
    assert sorted(map(tuple, pl.collect())) == sorted(map(tuple, sl.collect()))


def test_salted_agg_matches_collect_list(spark):
    from samyama_graph_spark.datapipe.skew import salted_agg

    df = spark.range(0, 2000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 7 % 101).alias("x")
    )
    direct = {
        r["g"]: r["items"]
        for r in df.groupBy("g")
        .agg(F.sort_array(F.collect_list("x")).alias("items"))
        .collect()
    }
    salted = {
        r["g"]: r["items"] for r in salted_agg(df, ["g"], "x", salts=8).collect()
    }
    assert direct == salted


def test_knn_pq_adc_recall(spark, sf_dir):
    """PQ-ADC sanity: the query itself scores 0 (its codes select its
    own LUT cells only if it is a training vector — vec_id 0 is), and
    ADC top-10 overlaps the exact L2 top-10."""
    from samyama_graph_spark.datapipe.similarity import (
        knn_bruteforce,
        knn_pq_adc,
        pq_codebook,
    )

    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    train = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(16).collect()
    ]
    qv = _query_vec(embs)
    cb = pq_codebook(train, 8, 16)
    adc = knn_pq_adc(embs, "embedding", "vec_id", qv, cb, k=10).collect()
    assert adc[0]["id"] == 0 and abs(adc[0]["score"]) < 1e-9
    exact = {
        r["id"]
        for r in knn_bruteforce(
            embs, "embedding", "vec_id", qv, 10, metric="l2"
        ).collect()
    }
    approx = {r["id"] for r in adc}
    assert len(exact & approx) / len(exact) >= 0.3, (exact, approx)


def test_knn_ivfadc_composes(spark, sf_dir):
    """IVF cell pruning + PQ ADC scoring compose: results are a subset
    of probed cells, the query still self-matches at score 0, and the
    plan filters on the cell BEFORE the ADC projection."""
    from samyama_graph_spark.datapipe.similarity import (
        knn_ivfadc,
        pq_codebook,
    )

    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    train = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(16).collect()
    ]
    qv = _query_vec(embs)
    cb = pq_codebook(train, 8, 16)
    out = knn_ivfadc(
        embs, "embedding", "vec_id", qv, train, cb, k=10, nprobe=4
    ).collect()
    assert out[0]["id"] == 0 and abs(out[0]["score"]) < 1e-9
    assert len(out) == 10


def test_simhash_dup_stats_matches_pair_path(spark, sf_dir):
    """The weighted-count summary (no distinct) must equal the summary
    computed from the distinct verified pair set."""
    from samyama_graph_spark.datapipe.dedup import (
        simhash_dup_stats,
        simhash_near_dups,
    )

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    pairs = simhash_near_dups(docs, "text", "doc_id", max_hamming=6, chunks=4)
    both = pairs.select(F.col("x").alias("id"), "hamming").unionByName(
        pairs.select(F.col("y").alias("id"), "hamming")
    )
    want = sorted(
        map(
            tuple,
            both.groupBy("id")
            .agg(
                F.count(F.lit(1)).alias("n_dups"),
                F.min("hamming").cast("long").alias("min_hamming"),
            )
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            simhash_dup_stats(
                docs, "text", "doc_id", max_hamming=6, chunks=4
            ).collect(),
        )
    )
    assert got == want


def test_corpus_filter_reasons(spark):
    from samyama_graph_spark.datapipe.corpus import corpus_filter

    docs = spark.createDataFrame(
        [
            (1, "short doc"),                             # too_short
            (2, " ".join(["spam"] * 40)),                 # low_diversity
            (3, " ".join(f"w{i}" for i in range(40))),    # kept
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in corpus_filter(docs, min_tokens=20).collect()}
    assert out[1]["drop_reason"] == "too_short" and not out[1]["keep"]
    assert out[2]["drop_reason"] == "low_diversity"
    assert out[3]["keep"] and out[3]["drop_reason"] is None


def test_salted_agg_salt_col_spreads_duplicates(spark):
    """With a unique salt_col, even a hot key of EXACT duplicate values
    still aggregates correctly (and deterministically)."""
    from samyama_graph_spark.datapipe.skew import salted_agg

    df = spark.range(0, 1000).select(
        F.lit("hot").alias("g"), F.lit(7).alias("x"), F.col("id").alias("rid")
    )
    out = salted_agg(df, ["g"], "x", salts=8, salt_col="rid").collect()
    assert len(out) == 1
    assert out[0]["items"] == [7] * 1000


def test_time_rollup_reaggregation_exact(spark):
    """Daily-from-hourly must equal daily-from-raw (algebraic
    re-aggregation), including buckets straddling midnight."""
    import datetime as dt

    from samyama_graph_spark.datapipe.timeseries import (
        reaggregate,
        time_rollup,
    )

    base = dt.datetime(2024, 3, 1, 22, 15)
    rows = [
        ("a", base + dt.timedelta(minutes=37 * i), float(i)) for i in range(200)
    ]
    ev = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    hourly = time_rollup(ev, "ts", "1 hour", ["k"], "value")
    daily_via = {
        (r["k"], r["bucket_start"]): (r["n"], r["total"])
        for r in reaggregate(hourly, "1 day", ["k"]).collect()
    }
    daily_raw = {
        (r["k"], r["bucket_start"]): (r["n"], r["total"])
        for r in time_rollup(ev, "ts", "1 day", ["k"], "value").collect()
    }
    assert daily_via == daily_raw
    # totals conserved end to end
    assert sum(v[0] for v in daily_via.values()) == 200


def test_split_text_chunks_vs_reference_walk(spark):
    """Differential test against a literal port of the reference's
    split_text loop (embed/mod.rs:83): same chunk boundaries, same
    stop condition, short texts stay whole."""
    from samyama_graph_spark.datapipe.text import split_text_chunks

    def ref_split(text, size, overlap):
        if len(text) <= size:
            return [text]
        chunks, start = [], 0
        while start < len(text):
            end = min(start + size, len(text))
            chunks.append(text[start:end])
            if end == len(text):
                break
            start += size - overlap
        return chunks

    texts = [
        (1, "short"),
        (2, "x" * 20),
        (3, "".join(chr(97 + i % 26) for i in range(20 * 7 + 3))),
        (4, "".join(chr(65 + i % 26) for i in range(40))),
        (5, "a" * 35),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = split_text_chunks(df, "text", "doc_id", chunk_size=20, overlap=5)
    rows = sorted(
        ((r["id"], r["chunk_index"], r["chunk_text"]) for r in got.collect())
    )
    expect = sorted(
        (i, j, c)
        for i, t in texts
        for j, c in enumerate(ref_split(t, 20, 5))
    )
    assert rows == expect


def test_resample_mixture_rates_and_determinism(spark):
    """mixture_rates: the binding group (largest n/share deficit) keeps
    everything; resample_mixture output is a pure function of
    (id, seed, group counts) — repartitioning must not move a row."""
    from samyama_graph_spark.datapipe.sampling import (
        mixture_rates,
        resample_mixture,
    )

    rows = [(i, "a" if i < 400 else ("b" if i < 500 else "c"))
            for i in range(600)]
    df = spark.createDataFrame(rows, "id long, grp string")
    shares = {"a": 0.5, "b": 0.25, "c": 0.25}
    # feasible total = min(400/0.5, 100/0.25, 100/0.25) = 400
    # -> a keeps 200/400 (thr 5000), b and c keep all (thr 10000)
    thr = {r["grp"]: r["__thr"] for r in mixture_rates(df, "grp", shares).collect()}
    assert thr == {"a": 5000, "b": 10000, "c": 10000}, thr
    out = resample_mixture(df, "id", "grp", shares, seed=11)
    got = sorted(map(tuple, out.select("id", "grp").collect()))
    again = sorted(
        map(
            tuple,
            resample_mixture(df.repartition(7), "id", "grp", shares, seed=11)
            .select("id", "grp")
            .collect(),
        )
    )
    assert got == again
    counts = {g: sum(1 for _, gg in got if gg == g) for g in shares}
    assert counts["b"] == 100 and counts["c"] == 100
    # hash-thinned group: close to the 200 target, never above threshold
    assert 160 <= counts["a"] <= 240, counts


def test_neighbor_sample_bounds_and_stability(spark):
    """neighbor_sample: at most k rows per source, selection stable
    under repartitioning, and hub degree never inflates the block."""
    from samyama_graph_spark.datapipe.sampling import neighbor_sample

    edges = spark.createDataFrame(
        [(s, d) for s in range(20) for d in range(s % 7 + 1)],
        "src long, dst long",
    )
    out = neighbor_sample(edges, "src", "dst", k=3, seed=9)
    per_src = {
        r["src"]: r["n"]
        for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert all(n <= 3 for n in per_src.values())
    # sources with degree < k keep their full neighborhood
    assert per_src[0] == 1 and per_src[1] == 2 and per_src[6] == 3
    again = neighbor_sample(edges.repartition(5), "src", "dst", k=3, seed=9)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_unigram_logprob_ranks_outliers_low(spark):
    """The CCNet-style proxy must score a garbled document (rare
    tokens only) below documents written from the corpus's common
    vocabulary, and weight repeated tokens by frequency."""
    from samyama_graph_spark.datapipe.corpus import unigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((99, "zxqv wkjh qqpl mnbv"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r["avg_logprob"]
        for r in unigram_logprob(df, "text", "doc_id").collect()
    }
    normal = [v for k, v in out.items() if k != 99]
    assert all(abs(v - normal[0]) < 1e-9 for v in normal)
    assert out[99] < min(normal) - 1.0, out


def test_semdedup_lloyd_matches_numpy(spark):
    """semdedup against a pure-numpy reference, with and without Lloyd
    refinement: same assignments, same drop set.  Inputs: planted
    clusters (one planted duplicate pair), and the sf0.001 embeddings
    (500 x 64) at k=16 and k=256 — k*dim stays under
    _LITERAL_ROUND_MAX, so their rounds run the literal fold."""
    import numpy as np

    from samyama_graph_spark.datapipe.dedup import semdedup
    from samyama_graph_spark.loaders import load_tables

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 10, (3, 8))
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(20):
            rows.append((vid, (centers[c] + rng.normal(0, 0.05, 8)).tolist()))
            vid += 1
    # plant one exact-ish duplicate pair inside cluster 0
    rows.append((vid, (np.array(rows[0][1]) + 1e-6).tolist()))
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])[
        "embeddings"
    ]

    def reference(df, k, iters, threshold):
        # numpy reference: identical seed init (k lowest ids), Lloyd
        # rounds with cosine assignment (ties -> lower cluster; empty
        # clusters keep their centroid), then within-cluster cosine
        # pairs >= threshold and the min-id survivor of each component
        got = sorted(
            (r["vec_id"], list(r["embedding"]))
            for r in df.select("vec_id", "embedding").collect()
        )
        ids = np.array([i for i, _ in got])
        X = np.array([v for _, v in got], dtype=np.float64)
        C = X[:k].copy()

        def assign(C):
            sims = (X @ C.T) / (
                np.linalg.norm(X, axis=1)[:, None]
                * np.linalg.norm(C, axis=1)
            )
            # argmax with ties to the lower index (numpy argmax already is)
            return sims.argmax(1)

        for _ in range(iters):
            a = assign(C)
            for c in range(k):
                if (a == c).any():
                    C[c] = X[a == c].mean(0)
        a = assign(C)
        parent = {int(i): int(i) for i in ids}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for c in range(k):
            members = ids[a == c]
            M = X[a == c]
            n = np.linalg.norm(M, axis=1)
            S = (M @ M.T) / np.outer(n, n)
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    if S[i, j] >= threshold:
                        ri = find(int(members[i]))
                        rj = find(int(members[j]))
                        parent[max(ri, rj)] = min(ri, rj)
        return {
            int(i): (int(c), find(int(i)) == int(i)) for i, c in zip(ids, a)
        }

    for df, k, iters, threshold, must_drop in (
        (planted, 3, 2, 0.9999, True),
        (emb, 16, 0, 0.95, False),
        (emb, 16, 2, 0.95, False),
        (emb, 256, 2, 0.95, False),
    ):
        out = {
            r["id"]: (r["cluster"], r["keep"])
            for r in semdedup(
                df, "embedding", "vec_id", k=k, threshold=threshold,
                iters=iters,
            ).collect()
        }
        want = reference(df, k, iters, threshold)
        assert out == want, (k, iters)
        # the planted input must exercise the drop path
        assert not must_drop or not all(keep for _, keep in out.values())


def test_vectorized_lloyd_round_literal_matches_broadcast_path(
    spark, monkeypatch
):
    """The r12 Lloyd-round fast path (codebook inlined as a SQL-literal
    fold when k*dim <= _LITERAL_ROUND_MAX) must produce the same final
    assignment as the above-threshold fallback (mapInPandas matmul
    round) — forced here by shrinking the threshold to 0 so the SAME
    k runs both round implementations."""
    from samyama_graph_spark.datapipe import dedup as dd
    from samyama_graph_spark.loaders import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])[
        "embeddings"
    ]

    def clusters():
        return {
            (r["id"], r["cluster"])
            for r in dd.kmeans(
                emb, "embedding", "vec_id", k=8, iters=2
            ).collect()
        }

    fast = clusters()  # threshold default: literal-fold rounds
    monkeypatch.setattr(dd, "_LITERAL_ROUND_MAX", 0)
    slow = clusters()  # forced broadcast+matmul rounds
    assert fast == slow and len(fast) > 0


def test_semdedup_vectorized_scales_in_k(spark):
    """k=4096 smoke: plan size stays O(1) in k (no literal blow-up)
    and every row lands in a real cluster."""
    from samyama_graph_spark.datapipe.dedup import _assign_clusters, semdedup
    from samyama_graph_spark.datapipe.similarity import norm
    from samyama_graph_spark.loaders import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])[
        "embeddings"
    ]
    vec = F.col("embedding").cast("array<double>")
    base = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        vec.alias("v"),
        norm(vec).alias("nrm"),
    )
    small = str(
        _assign_clusters(base, 8, 0, None)
        ._jdf.queryExecution().optimizedPlan()
    )
    n_emb = emb.count()
    k = min(4096, n_emb)
    big = str(
        _assign_clusters(base, k, 0, None)
        ._jdf.queryExecution().optimizedPlan()
    )
    # centroids ride the runtime broadcast, never the plan
    assert len(big) < 2 * len(small), (len(small), len(big))
    rows = semdedup(
        emb, "embedding", "vec_id", k=k, threshold=0.95
    ).collect()
    assert len(rows) == n_emb
    assert all(0 <= r["cluster"] < k for r in rows)


def test_asof_join_directions_and_tolerance(spark):
    """asof_join against hand-computed expectations: backward picks
    the latest right at-or-before, forward the earliest at-or-after,
    tolerance voids matches beyond the horizon, equal ts matches."""
    import datetime as dt

    from samyama_graph_spark.datapipe.timeseries import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(10), "a"), (1, t(30), "b"), (2, t(5), "c"), (3, t(1), "d")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, t(10), 1.0), (1, t(25), 2.0), (2, t(50), 3.0)],
        "k long, ts timestamp, quote double",
    )
    back = {
        (r["k"], r["tag"]): r["quote_r"]
        for r in asof_join(left, right, "ts", by=["k"]).collect()
    }
    assert back == {
        (1, "a"): 1.0,   # equal ts matches
        (1, "b"): 2.0,   # latest at-or-before
        (2, "c"): None,  # right is later only
        (3, "d"): None,  # key has no right rows
    }
    fwd = {
        (r["k"], r["tag"]): r["quote_r"]
        for r in asof_join(
            left, right, "ts", by=["k"], direction="forward"
        ).collect()
    }
    assert fwd == {
        (1, "a"): 1.0,
        (1, "b"): None,
        (2, "c"): 3.0,
        (3, "d"): None,
    }
    tol = {
        (r["k"], r["tag"]): r["quote_r"]
        for r in asof_join(
            left, right, "ts", by=["k"], tolerance="4 minutes"
        ).collect()
    }
    assert tol == {
        (1, "a"): 1.0,   # gap 0 <= 4min
        (1, "b"): None,  # gap 5min > 4min -> voided
        (2, "c"): None,
        (3, "d"): None,
    }
    # reserved internal names and suffix collisions fail loudly
    # instead of silently misbehaving (advice r5)
    with pytest.raises(ValueError, match="internal names"):
        asof_join(left.withColumnRenamed("tag", "__side"), right, "ts", by=["k"])
    with pytest.raises(ValueError, match="suffixed right outputs"):
        asof_join(left.withColumnRenamed("tag", "quote_r"), right, "ts", by=["k"])


def test_pack_first_fit_invariants_and_reference(spark):
    """pack_first_fit vs a pure-python FFD reference: identical
    placement, every doc exactly once, no non-oversize bin over
    budget, deterministic across runs."""
    rows = [
        ("s1", i, t)
        for i, t in enumerate([300, 300, 200, 200, 100, 100, 50, 700])
    ] + [("s2", 100 + i, t) for i, t in enumerate([512, 1, 511, 2])]
    df = spark.createDataFrame(rows, "shard string, id long, ntok long")

    from samyama_graph_spark.datapipe.packing import pack_first_fit

    out = pack_first_fit(df, "ntok", 512, "shard", "id").collect()
    got = {(r["shard"], r["id"]): (r["pack"], r["oversize"]) for r in out}
    assert len(got) == len(rows)  # every doc exactly once

    # python reference
    import collections
    ref = {}
    by_shard = collections.defaultdict(list)
    for s, i, t in rows:
        by_shard[s].append((t, i))
    for s, docs in by_shard.items():
        loads = []
        for t, i in sorted(docs, key=lambda x: (-x[0], x[1])):
            if t > 512:
                ref[(s, i)] = (len(loads), True)
                loads.append(t)
                continue
            for b, ld in enumerate(loads):
                if ld + t <= 512:
                    loads[b] = ld + t
                    ref[(s, i)] = (b, False)
                    break
            else:
                ref[(s, i)] = (len(loads), False)
                loads.append(t)
    assert got == ref
    # no non-oversize bin exceeds the budget
    fill = collections.defaultdict(int)
    toks = {(s, i): t for s, i, t in rows}
    for (s, i), (p, ov) in got.items():
        fill[(s, p)] += toks[(s, i)]
    for (s, p), tot in fill.items():
        members = [k for k, v in got.items() if k[0] == s and v[0] == p]
        if not any(got[m][1] for m in members):
            assert tot <= 512, (s, p, tot)
    # deterministic
    again = {
        (r["shard"], r["id"]): (r["pack"], r["oversize"])
        for r in pack_first_fit(df, "ntok", 512, "shard", "id").collect()
    }
    assert again == got


def test_semdedup_target_cluster_size(spark):
    """k=None + target_cluster_size derives k = ceil(n/target) — the
    parameterization that keeps the within-cluster O(n^2/k) stage
    linear as data grows."""
    import pytest as _pytest

    from samyama_graph_spark.datapipe.dedup import semdedup
    from samyama_graph_spark.loaders import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])[
        "embeddings"
    ]
    n = emb.count()
    target = 25
    out = semdedup(
        emb, "embedding", "vec_id", k=None, threshold=0.95,
        target_cluster_size=target,
    ).collect()
    want_k = -(-n // target)
    assert len(out) == n
    assert all(0 <= r["cluster"] < want_k for r in out)
    assert max(r["cluster"] for r in out) >= want_k // 2  # clusters used
    with _pytest.raises(ValueError, match="not both"):
        semdedup(emb, "embedding", "vec_id", k=4, target_cluster_size=9)
    with _pytest.raises(ValueError, match="required"):
        semdedup(emb, "embedding", "vec_id", k=None)
    with _pytest.raises(ValueError, match="centroid_mode"):
        semdedup(emb, "embedding", "vec_id", centroid_mode="literal")


def test_substring_span_pairs_planted(spark):
    """Planted verbatim spans: docs 1/2 share an 8-token boilerplate
    run, doc 3 is disjoint; window positions and counts are exact."""
    from samyama_graph_spark.datapipe.dedup import substring_span_pairs

    boiler = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + boiler + " gamma"),
            (2, boiler + " delta epsilon zeta"),
            (3, "entirely different words with no shared window at all"),
        ],
        "doc_id long, text string",
    )
    got = substring_span_pairs(docs, "text", "doc_id", k=8).collect()
    # 10-token shared run -> 3 shared 8-token windows, offset by the
    # 2-token prefix of doc 1
    assert len(got) == 3
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}
    assert sorted((r["pos_a"], r["pos_b"]) for r in got) == [
        (2, 0), (3, 1), (4, 2),
    ]
    for r in got:
        assert len(r["shingle"].split(" ")) == 8
    # short docs (< k tokens) produce no windows and no error
    tiny = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], "doc_id long, text string"
    )
    assert substring_span_pairs(tiny, "text", "doc_id", k=8).count() == 0


def test_substring_span_pairs_sampling_subset(spark):
    """0-mod-p sampling keeps a deterministic subset of the unsampled
    matches (same positions sampled on both sides of a shared span),
    and a long shared run still yields at least one sampled match."""
    from samyama_graph_spark.datapipe.dedup import substring_span_pairs

    run = " ".join(f"tok{i}" for i in range(64))
    docs = spark.createDataFrame(
        [(1, "x y " + run), (2, run + " p q r")],
        "doc_id long, text string",
    )
    full = {
        (r["id_a"], r["pos_a"], r["id_b"], r["pos_b"])
        for r in substring_span_pairs(docs, "text", "doc_id", k=8).collect()
    }
    sampled = {
        (r["id_a"], r["pos_a"], r["id_b"], r["pos_b"])
        for r in substring_span_pairs(
            docs, "text", "doc_id", k=8, sample=4
        ).collect()
    }
    assert sampled and sampled < full
    # 57 shared windows at 1/4 density: expect ~14, require >= 5
    assert len(sampled) >= 5


def test_strip_duplicate_spans_planted(spark):
    """The shared boilerplate run disappears from the higher-id doc
    only; token order is preserved; non-victims pass through with
    dropped_tokens = 0."""
    from samyama_graph_spark.datapipe.dedup import (
        strip_duplicate_spans,
        substring_span_pairs,
    )

    boiler = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    docs = spark.createDataFrame(
        [
            (1, "intro words " + boiler + " outro"),
            (2, boiler + " unique tail here"),
            (3, "completely unrelated document text with many words"),
        ],
        "doc_id long, text string",
    )
    pairs = substring_span_pairs(docs, "text", "doc_id", k=8)
    out = {
        r["doc_id"]: (r["text"], r["dropped_tokens"])
        for r in strip_duplicate_spans(
            docs, pairs, "text", "doc_id", k=8
        ).collect()
    }
    # doc 1 (lower id) keeps the passage; doc 3 untouched
    assert out[1] == ("intro words " + boiler + " outro", 0)
    assert out[3][1] == 0
    # doc 2 loses exactly the 9 boilerplate tokens, keeps its tail
    assert out[2] == ("unique tail here", 9)
    # after stripping, the corpus has no shared 8-token window left
    stripped = spark.createDataFrame(
        [(k, v[0]) for k, v in out.items()], "doc_id long, text string"
    )
    assert substring_span_pairs(stripped, "text", "doc_id", k=8).count() == 0


def test_strip_duplicate_spans_full_coverage(spark):
    """A doc that is entirely boilerplate strips to the empty string."""
    from samyama_graph_spark.datapipe.dedup import (
        strip_duplicate_spans,
        substring_span_pairs,
    )

    run = " ".join(f"t{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, run + " and more original content follows"), (2, run)],
        "doc_id long, text string",
    )
    pairs = substring_span_pairs(docs, "text", "doc_id", k=8)
    out = {
        r["doc_id"]: (r["text"], r["dropped_tokens"])
        for r in strip_duplicate_spans(
            docs, pairs, "text", "doc_id", k=8
        ).collect()
    }
    assert out[2] == ("", 12)
    assert out[1][1] == 0


def _bpe_reference_train(words: dict, num_merges: int):
    """Pure-Python Sennrich-style BPE trainer (ties break
    lexicographically) — the independent oracle for bpe_train."""
    vocab = {
        tuple(
            c + "</w>" if i == len(w) - 1 else c for i, c in enumerate(w)
        ): f
        for w, f in words.items()
    }
    merges = []
    for _ in range(num_merges):
        counts: dict = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append(best)
        a, b = best
        out = {}
        for syms, f in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            out[tuple(merged)] = out.get(tuple(merged), 0) + f
        vocab = out
    return merges


def test_bpe_train_matches_reference(spark):
    from collections import Counter
    import re

    from samyama_graph_spark.datapipe.text import (
        BPE_PRETOKEN_RE, bpe_train,
    )

    corpus = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest low wide",
        "the low road, the new road!",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = bpe_train(docs, "text", num_merges=25, checkpoint_every=6)
    words = Counter(
        w for t in corpus for w in re.findall(BPE_PRETOKEN_RE, t.lower())
    )
    want = _bpe_reference_train(dict(words), 25)
    assert got == want  # identical merge sequence, round for round
    # the corpus exhausts its pairs before 25 merges — both sides must
    # stop at the same point rather than pad
    assert 15 <= len(got) <= 25


def test_bpe_encode_roundtrip_and_parity(spark):
    from samyama_graph_spark.datapipe.text import bpe_encode, bpe_train

    corpus = ["banana bandana ban", "an anna and a banana", "band bann"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    merges = bpe_train(docs, "text", num_merges=12, checkpoint_every=5)
    enc = {
        r["id"]: r["tokens"]
        for r in bpe_encode(docs, "text", "doc_id", merges).collect()
    }
    # lossless: stripping the markers reconstructs the pre-tokenized text
    import re

    from samyama_graph_spark.datapipe.text import BPE_PRETOKEN_RE

    for i, t in enumerate(corpus):
        joined = "".join(enc[i]).replace("</w>", "")
        assert joined == "".join(re.findall(BPE_PRETOKEN_RE, t.lower()))
    # trained merges compress the corpus the reference amount: every
    # token is a contiguous merge product, so token counts shrink
    n_chars = sum(
        len(w)
        for t in corpus
        for w in re.findall(BPE_PRETOKEN_RE, t.lower())
    )
    n_tok = sum(len(v) for v in enc.values())
    assert n_tok < n_chars


def test_kmeans_first_class(spark):
    """kmeans (the SemDeDup partition exposed as an operator): numpy
    parity on planted clusters, and the target_cluster_size
    parameterization."""
    import numpy as np

    from samyama_graph_spark.datapipe.dedup import kmeans

    rng = np.random.default_rng(11)
    centers = rng.normal(0, 10, (4, 6))
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(15):
            rows.append((vid, (centers[c] + rng.normal(0, 0.05, 6)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        r["id"]: r["cluster"]
        for r in kmeans(df, "embedding", "vec_id", k=4, iters=2).collect()
    }
    assert len(got) == len(rows)

    # numpy reference: 4 lowest-id seeds, 2 Lloyd rounds, cosine argmax
    X = np.array([r[1] for r in rows])
    C = X[:4].copy()

    def assign(C):
        sims = (X @ C.T) / (
            np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(C, axis=1)
        )
        return sims.argmax(1)

    for _ in range(2):
        a = assign(C)
        for c in range(4):
            if (a == c).any():
                C[c] = X[a == c].mean(0)
    a = assign(C)
    for i, (vid_, _) in enumerate(rows):
        assert got[vid_] == int(a[i])

    # derived-k parameterization: ceil(60 / 20) = 3 clusters
    tcs = kmeans(
        df, "embedding", "vec_id", target_cluster_size=20, iters=0
    )
    assert tcs.select("cluster").distinct().count() == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmeans(df, "embedding", "vec_id", k=4, target_cluster_size=10)
    with _pytest.raises(ValueError):
        kmeans(df, "embedding", "vec_id")


def test_quality_buckets(spark):
    """Quantile bucketing: exact tercile boundaries, rows equal to a
    boundary land in the LOWER bucket, labels map lowest-first."""
    import pytest as _pytest

    from samyama_graph_spark.datapipe.corpus import quality_buckets

    df = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate([1, 1, 2, 3, 4, 5, 6, 7, 9])],
        "id long, s double",
    )
    out = {
        r["id"]: (r["bucket"], r["bucket_label"])
        for r in quality_buckets(
            df, "s", 3, labels=["tail", "middle", "head"]
        ).collect()
    }
    # 9 rows: q1 = percentile_disc(1/3) = 2, q2 = percentile_disc(2/3) = 5
    # bucket 0: s <= 2 (incl. the boundary tie), 1: 2 < s <= 5, 2: s > 5
    assert [out[i][0] for i in range(9)] == [0, 0, 0, 1, 1, 1, 2, 2, 2]
    assert out[0][1] == "tail" and out[4][1] == "middle" and out[8][1] == "head"
    with _pytest.raises(ValueError):
        quality_buckets(df, "s", 1)
    with _pytest.raises(ValueError):
        quality_buckets(df, "s", 3, labels=["a", "b"])


def test_quality_buckets_empty_and_null_scores(spark):
    """Edge hardening (r8 advice): empty input yields the schema-stable
    frame with NULL buckets instead of float(None) TypeError; NULL
    scores bucket as NULL instead of silently landing in bucket 0."""
    from samyama_graph_spark.datapipe.corpus import quality_buckets

    empty = spark.createDataFrame([], "id long, s double")
    out = quality_buckets(empty, "s", 3, labels=["t", "m", "h"])
    assert [f.name for f in out.schema] == ["id", "s", "bucket", "bucket_label"]
    assert out.count() == 0

    df = spark.createDataFrame(
        [(0, 1.0), (1, 5.0), (2, 9.0), (3, None)], "id long, s double"
    )
    got = {r["id"]: r["bucket"] for r in quality_buckets(df, "s", 3).collect()}
    assert got[3] is None
    assert got[0] == 0 and got[2] == 2


def test_gopher_rules_rich_text(spark):
    """Gopher rule metrics on hand-built docs exercising the line and
    symbol paths the synthetic corpus lacks (no newlines/symbols):
    bullets, ellipsis endings, duplicate lines, symbol ratios, the
    stop-word requirement, and the combined verdict."""
    from samyama_graph_spark.datapipe.corpus import gopher_rules

    good = " ".join(
        ["the", "be", "to", "of", "and"] + [f"word{i}" for i in range(60)]
    )
    bullets = "\n".join(["- item one", "- item two", "* item three",
                         "plain line"])
    dups = "\n".join(["same line"] * 3 + ["other line"])
    symbols = "lots # of # tags # here ..."
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dups), (4, symbols), (5, "")],
        "doc_id long, text string",
    )
    out = {r["id"]: r.asDict() for r in
           gopher_rules(df, "text", "doc_id").collect()}

    assert out[1]["n_words"] == 65 and out[1]["stop_hits"] == 5
    assert out[1]["passes"] is True

    assert out[2]["bullet_line_frac"] == 0.75  # 3 of 4 lines
    assert out[2]["passes"] is False  # too few words anyway

    assert out[3]["dup_line_frac"] == 0.5  # 4 lines, 2 distinct
    # 37 chars of lines total (3x"same line"=27 + "other line"=10),
    # 19 distinct
    assert abs(out[3]["dup_line_char_frac"] - (37 - 19) / 37) < 1e-5

    # whitespace tokens: lots # of # tags # here ... = 8 words;
    # symbols: 3 hashes + 1 '...' = 4
    assert out[4]["symbol_word_ratio"] == 0.5
    assert out[4]["ellipsis_line_frac"] == 1.0

    assert out[5]["n_words"] == 0 and out[5]["passes"] is False


def test_source_quota_determinism_and_bounds(spark):
    """Per-source quota: exact per-key cap, best-first ordering, and
    the id tie-break make survivor selection deterministic."""
    from samyama_graph_spark.datapipe.sampling import source_quota

    rows = [(i, f"s{i % 3}", float(i % 5)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double")
    out = source_quota(df, "doc_id", "source", 4, order_col="q").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append((r["rank"], r["doc_id"], r["q"]))
    assert all(len(v) == 4 for v in by_src.values())
    for v in by_src.values():
        v.sort()
        qs = [q for _, _, q in v]
        assert qs == sorted(qs, reverse=True)  # best first
        # ties (equal q) broken by ascending id
        for (r1, i1, q1), (r2, i2, q2) in zip(v, v[1:]):
            if q1 == q2:
                assert i1 < i2
    # no order_col: lowest ids survive
    out2 = source_quota(df, "doc_id", "source", 2).collect()
    assert {r["doc_id"] for r in out2 if r["source"] == "s0"} == {0, 3}


def test_dedup_lines_keep_first_semantics(spark):
    """Cross-document line dedup: first (doc, pos) occurrence survives,
    later occurrences (including within-doc repeats) strip, empty
    lines always survive, fully-duplicated docs empty out."""
    from samyama_graph_spark.datapipe.dedup import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "alpha\nboiler\nbeta"),
            (2, "boiler\ngamma\n\nboiler"),
            (3, "boiler"),
            (4, "delta\ndelta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["text"], r["removed_lines"])
           for r in dedup_lines(df, "text", "doc_id").collect()}
    assert out[1] == ("alpha\nboiler\nbeta", 0)  # first occurrence kept
    # doc 2: both boiler copies strip, the empty line survives
    assert out[2] == ("gamma\n", 2)
    assert out[3] == ("", 1)  # fully duplicated -> empty text
    assert out[4] == ("delta", 1)  # within-doc repeat strips too


def test_simhash_drops_null_text_rows(spark):
    """NULL-text docs must be absent from simhash output (matching the
    explode+groupBy formulation the map-only signature replaced —
    explode of a NULL array emits no rows; r10 advice)."""
    from samyama_graph_spark.datapipe.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "alpha beta gamma")],
        "id long, text string",
    )
    out = simhash(df, "text", "id").collect()
    assert sorted(r["id"] for r in out) == [1, 3]
    sims = {r["id"]: r["sim"] for r in out}
    assert sims[1] == sims[3] and sims[1] is not None


def test_dsir_target_filter_matches_two_frame(spark, sf_dir):
    """The single-scan subset-target path (target_filter) must return
    EXACTLY the two-frame path's weights — same ids, n_features, and
    avg_llr to the returned 6-decimal rounding (r11 optimization:
    2 corpus scans instead of 3 when the target is a predicate over
    the raw rows)."""
    from samyama_graph_spark.datapipe.corpus import dsir_weights

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    two = {
        r["id"]: (r["n_features"], r["avg_llr"])
        for r in dsir_weights(
            docs, docs.filter("lang = 'en'"), "text", "doc_id", buckets=512
        ).collect()
    }
    one = {
        r["id"]: (r["n_features"], r["avg_llr"])
        for r in dsir_weights(
            docs, None, "text", "doc_id", buckets=512,
            target_filter=F.col("lang") == "en",
        ).collect()
    }
    assert one == two and len(one) > 0


def test_dsir_target_filter_single_scan_stats_and_errors(spark, sf_dir):
    """target_filter and target are mutually exclusive (exactly one),
    and the returned scoring plan still scans the corpus exactly once
    with a broadcast LLR LocalRelation."""
    import re

    import pytest as _pytest

    from samyama_graph_spark.datapipe.corpus import dsir_weights

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    with _pytest.raises(ValueError):
        dsir_weights(docs, docs, "text", "doc_id", target_filter=F.lit(True))
    with _pytest.raises(ValueError):
        dsir_weights(docs, None, "text", "doc_id")
    out = dsir_weights(
        docs, None, "text", "doc_id", buckets=512,
        target_filter=F.col("lang") == "en",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"Scan parquet", plan))
    assert n_scans == 1, plan[:2000]
    assert "LocalTableScan" in plan


def _persistent_rdd_ids(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_operator_pin_keeps_another_sessions_pin(spark):
    """A dedup operator releases its previous pins before pinning; that
    release must stay inside its own session.  Session A's semdedup
    pins its cluster assignment; session B then runs semdedup on other
    vectors, and A's pinned blocks must still be cached."""
    from samyama_graph_spark.datapipe.dedup import semdedup

    def run(session, offset):
        rows = [
            (i, [float(i % 3 + offset), 1.0, float(i % 5)])
            for i in range(30)
        ]
        df = session.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        return semdedup(df, "embedding", "vec_id", k=2, threshold=0.999)

    def rows(out):
        return {(r["id"], r["keep"]) for r in out.collect()}

    other = spark.newSession()
    base = _persistent_rdd_ids(spark)
    # the result frames stay referenced, so nothing they read is
    # reclaimed by the context cleaner while the test looks
    out_a = run(spark, 0.0)
    got_a = rows(out_a)
    pinned_a = _persistent_rdd_ids(spark) - base
    assert pinned_a
    out_b = run(other, 10.0)
    rows(out_b)
    # A's pins survive B's operator...
    lost = pinned_a - _persistent_rdd_ids(spark)
    assert not lost, sorted(lost)
    # ...and A's result is unchanged
    assert rows(out_a) == got_a
