"""Dedup / similarity / as-of / multimodal operator tests, with
DuckDB oracles where the computation is SQL-expressible."""

import time

import duckdb
import pytest
from pyspark.sql import functions as F

from sparkplans.operators import asof, bpe, dedup, multimodal, similarity, skew
from sparkplans.sources import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    yield con
    con.close()


# -- MinHash ----------------------------------------------------------------


def test_minhash_signatures_match_oracle(spark, docs, duck):
    """Stage oracle: per-(doc, perm) minhash values computed
    independently in DuckDB with the shared md5-int hash."""
    got = {
        (r.doc_id, r.perm): r.minhash
        for r in dedup.minhash_signatures(docs, num_perm=4).collect()
    }
    want = {
        (r[0], r[1]): r[2]
        for r in duck.execute(
            """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(t[i:i+2], ' ') AS shingle
              FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
            ), h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS hv
              FROM sh
            )
            SELECT doc_id, p.perm,
                   min((hv * (p.perm * 2 + 1) + (p.perm * 997 + 31)) % 2147483647)
            FROM h, (SELECT unnest(range(0, 4)) AS perm) p
            GROUP BY doc_id, p.perm
            """
        ).fetchall()
    }
    assert len(got) == len(want)
    mismatches = {k for k in want if got.get(k) != want[k]}
    assert not mismatches, f"{len(mismatches)} mismatching (doc,perm) cells"


def test_minhash_identical_docs_share_signature(spark, docs):
    two = docs.limit(1).select("text")
    dup = two.withColumn("doc_id", F.lit(1)).unionByName(
        two.withColumn("doc_id", F.lit(2))
    )
    wide = dedup.minhash_wide(dup, num_perm=8)
    pairs = dedup.lsh_candidate_pairs_wide(wide, num_perm=8, bands=2)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 2)]
    jac = dedup.jaccard_pairs(dup, pairs).collect()
    assert jac[0].jaccard == 1.0


def test_near_dup_pipeline_finds_planted_dup(spark, docs):
    base = docs.limit(20)
    # plant a near-duplicate of doc 0: same text + one extra token
    planted = base.filter(F.col("doc_id") == base.agg(F.min("doc_id")).collect()[0][0]).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extratoken")).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(planted)
    found = dedup.near_dup_pairs(corpus, num_perm=16, bands=8, threshold=0.5)
    ids = {(r.id_a, r.id_b) for r in found.collect()}
    assert any(b - a == 1_000_000 for a, b in ids), ids


def test_exact_dedup_keeps_lowest_id(spark, docs):
    d0 = docs.select("doc_id", "text")
    dup = d0.unionByName(d0.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text"))
    kept = dedup.exact_dedup(dup)
    assert kept.count() == d0.count()
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 10_000_000


# -- SimHash ----------------------------------------------------------------


def test_simhash_deterministic_and_discriminative(spark, docs):
    sh = dedup.simhash(docs.limit(50), bits=32)
    rows = sh.collect()
    assert len(rows) == 50
    again = {r.doc_id: r.simhash for r in dedup.simhash(docs.limit(50), bits=32).collect()}
    assert {r.doc_id: r.simhash for r in rows} == again
    assert len({r.simhash for r in rows}) > 25  # mostly distinct fingerprints


def test_simhash_near_dup_small_hamming(spark, docs):
    one = docs.orderBy("doc_id").limit(1)
    a = one.select(F.lit(1).alias("doc_id"), "text")
    b = one.select(F.lit(2).alias("doc_id"), F.concat("text", F.lit(" xyzzy")).alias("text"))
    out = {r.doc_id: r.simhash for r in dedup.simhash(a.unionByName(b), bits=32).collect()}
    ham = bin(out[1] ^ out[2]).count("1")
    assert ham <= 6, f"near-identical docs hamming={ham}"


# -- similarity -------------------------------------------------------------


def test_brute_force_topk_matches_oracle(spark, duck):
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = sorted(
        (r.probe_id, r.vec_id, r.cos_sim)
        for r in similarity.brute_force_topk(emb, probes, k=5).collect()
    )
    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
            SELECT p.vec_id AS probe_id, e.vec_id,
                   round(list_dot_product(e.embedding::DOUBLE[], p.embedding::DOUBLE[]) /
                         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))), 6) AS cos_sim
            FROM embeddings e, embeddings p
            WHERE p.vec_id < 3
            QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY cos_sim DESC, e.vec_id) <= 5
            """
        ).fetchall()
    )
    assert got == want


def test_lsh_bucket_topk_subset_of_bucket(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = similarity.lsh_bucket_topk(emb, probes, k=5, num_planes=4)
    rows = out.collect()
    assert len(rows) > 0
    # probe itself is in its own bucket with cos_sim 1.0
    self_hits = [r for r in rows if r.probe_id == r.vec_id]
    assert all(abs(r.cos_sim - 1.0) < 1e-6 for r in self_hits) and self_hits


def test_ivf_self_hit_and_recall(spark):
    """Probes drawn from the corpus must find themselves (their own
    cluster is always probed); recall@5 vs brute force stays useful."""
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    assigned, centroids = similarity.ivf_build(emb, num_centroids=8, iters=2)
    assert centroids.count() == 8
    out = similarity.ivf_topk(assigned, centroids, probes, k=5, nprobe=2).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r)
    for pid, rows in by_probe.items():
        top = max(rows, key=lambda r: r.cos_sim)
        assert top.vec_id == pid and abs(top.cos_sim - 1.0) < 1e-6
    exact = similarity.brute_force_topk(emb, probes, k=5).collect()
    exact_ids = {(r.probe_id, r.vec_id) for r in exact}
    got_ids = {(r.probe_id, r.vec_id) for r in out}
    recall = len(exact_ids & got_ids) / len(exact_ids)
    assert recall >= 0.4, f"IVF recall@5 collapsed: {recall}"


def test_ivf_build_deterministic(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    _, c1 = similarity.ivf_build(emb, num_centroids=4, iters=1)
    _, c2 = similarity.ivf_build(emb, num_centroids=4, iters=1)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def test_embedding_near_dup_pairs_planted(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(100)
    clone = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding", "label"
    )
    pairs = similarity.embedding_near_dup_pairs(
        emb.select("vec_id", "embedding", "label").unionByName(clone), threshold=0.999
    )
    assert (0, 5000) in {(r.id_a, r.id_b) for r in pairs.collect()}


def test_sq_topk_recall_and_determinism(spark):
    """8-bit scalar quantization of 64-dim vectors barely moves the
    ranking: recall@10 vs exact brute force stays high, the quantized
    codes are in [0, 255], and two builds agree exactly."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = similarity.sq_quantize(emb)
    rng = q.select(
        F.min(F.array_min("qvec")).alias("lo"),
        F.max(F.array_max("qvec")).alias("hi"),
    ).first()
    assert rng.lo >= 0 and rng.hi <= 255
    probes = q.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
        F.col("qvec_recon").alias("probe_qvec_recon"),
    )
    out = similarity.sq_topk(q, probes, k=10).collect()
    exact = similarity.brute_force_topk(emb, probes, k=10).collect()
    exact_ids = {(r.probe_id, r.vec_id) for r in exact}
    got_ids = {(r.probe_id, r.vec_id) for r in out}
    recall = len(exact_ids & got_ids) / len(exact_ids)
    assert recall >= 0.8, f"SQ8 recall@10 collapsed: {recall}"
    q2 = similarity.sq_quantize(emb)
    out2 = similarity.sq_topk(q2, probes, k=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pq_topk_recall_selfhit_determinism(spark):
    """PQ (16 subspaces × 16 centroids on 64-dim normalized vectors):
    every probe drawn from the corpus finds itself at rank 1, ADC +
    exact-rerank recall@10 vs brute force stays high, and two
    independent builds agree exactly (deterministic init + Lloyd)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    nemb = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x / nrm
        ).alias("embedding"),
    )
    probes = nemb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    coded, books = similarity.pq_build(nemb, num_sub=16, k=16, iters=2)
    coded = coded.localCheckpoint()
    out = similarity.pq_topk(coded, books, probes, k=10).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r)
    for pid, rows in by_probe.items():
        top = min(rows, key=lambda r: r.rank)
        assert top.vec_id == pid and abs(top.cos_exact - 1.0) < 1e-6
    exact = similarity.brute_force_topk(nemb, probes, k=10).collect()
    e = {(r.probe_id, r.vec_id) for r in exact}
    g = {(r.probe_id, r.vec_id) for r in out}
    recall = len(e & g) / len(e)
    assert recall >= 0.6, f"PQ recall@10 collapsed: {recall}"
    coded2, books2 = similarity.pq_build(nemb, num_sub=16, k=16, iters=2)
    assert books == books2
    out2 = similarity.pq_topk(coded2.localCheckpoint(), books2, probes, k=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


# -- BPE merge training -----------------------------------------------------


def test_bpe_train_matches_handcomputed_merges(spark):
    """The Sennrich et al. textbook corpus: merge order and weights
    are hand-computable, including the (e,s)/(s,t) tie broken
    lexicographically and the left-to-right no-remerge fold."""
    rows = (
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3
    )
    docs = spark.createDataFrame(rows, "text string")
    merges, vocab = bpe.bpe_train(docs, num_merges=4)
    assert merges == [
        ("e", "s", 9),
        ("es", "t", 9),
        ("l", "o", 7),
        ("lo", "w", 7),
    ]
    sym = {r.word: list(r.symbols) for r in vocab.collect()}
    assert sym["newest"] == ["n", "e", "w", "est"]
    assert sym["low"] == ["low"]
    assert sym["lower"] == ["low", "e", "r"]
    # determinism
    merges2, _ = bpe.bpe_train(docs, num_merges=4)
    assert merges2 == merges


def test_bpe_merge_fold_no_remerge(spark):
    """[a,a,a] with merge (a,a) must yield [aa,a] — the merged output
    does not immediately re-merge with the next symbol."""
    df = spark.createDataFrame([("aaa",)], "text string")
    merges, vocab = bpe.bpe_train(df, num_merges=1)
    assert merges == [("a", "a", 2)]
    assert list(vocab.first().symbols) == ["aa", "a"]


def test_bpe_encode_lookup_and_oov_fallback(spark):
    rows = (
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3
    )
    docs = spark.createDataFrame(rows, "text string")
    merges, vocab = bpe.bpe_train(docs, num_merges=4)
    enc = bpe.bpe_encode(
        spark.createDataFrame(
            [(0, "newest unseenword")], "doc_id long, text string"
        ),
        vocab,
    )
    got = {r.word: list(r.tokens) for r in enc.collect()}
    assert got["newest"] == ["n", "e", "w", "est"]
    assert got["unseenword"] == list("unseenword")  # OOV -> chars


# -- skew-salted join -------------------------------------------------------


def test_salted_join_lossless_and_spreads_hot_key(spark):
    """A corpus where one key holds ~90% of rows: the salted join
    returns exactly the plain join's rows, and the hot key's rows
    leave the shuffle spread across >1 reducer partition instead of
    funnelling into one."""
    ev = load_table(spark, SF_DIR, "events")
    # plant a mega-key: remap most rows onto one event_type
    facts = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 10 < 9, F.lit("hot"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "value",
    )
    dim = facts.groupBy("event_type").agg(
        F.count("*").alias("type_total")
    )
    salted = skew.salted_join(
        facts, dim, on=["event_type"], num_salts=8, salt_src=["event_id"]
    )
    plain = facts.join(dim, "event_type")
    key = lambda r: (r.event_id, r.event_type, r.type_total)  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(
        map(key, plain.collect())
    )
    # left join with an unmatched planted fact row stays lossless
    extra = spark.createDataFrame(
        [(10**12, 0, "no_such_type", 1.0)], facts.schema
    )
    lf = facts.unionByName(extra)
    lsalted = skew.salted_join(
        lf, dim, on=["event_type"], num_salts=8,
        salt_src=["event_id"], how="left",
    )
    lplain = lf.join(dim, "event_type", "left")
    assert lsalted.count() == lplain.count()
    assert (
        lsalted.filter(F.col("event_type") == "no_such_type")
        .first()
        .type_total
        is None
    )
    # spread proof: AQE off (its partition coalescing folds this tiny
    # corpus into one partition either way), shuffle-hash join — then
    # count which reducer partitions host the hot key's rows
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        spread = (
            skew.salted_join(
                facts,
                dim.hint("shuffle_hash"),
                on=["event_type"],
                num_salts=8,
                salt_src=["event_id"],
            )
            .filter(F.col("event_type") == "hot")
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        unsalted = (
            facts.join(dim.hint("shuffle_hash"), "event_type")
            .filter(F.col("event_type") == "hot")
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert unsalted == 1, "baseline: one key = one reducer"
    assert spread > 1, "hot key still funnels into one partition"


# -- as-of / range joins ----------------------------------------------------


def test_asof_join_matches_pandas(spark):
    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 5)
    quotes = ev.filter(F.col("event_type") == "view").select("user_id", "ts", F.col("value").alias("quote"))
    trades = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", F.col("value").alias("trade"))
    got = asof.asof_join(trades, quotes, key="user_id").toPandas()

    import pandas as pd

    tp = trades.toPandas().sort_values("ts")
    qp = quotes.toPandas().sort_values("ts")
    want = pd.merge_asof(tp, qp, on="ts", by="user_id", suffixes=("", "_q"))
    got_s = got.sort_values(["user_id", "ts"]).reset_index(drop=True)
    want_s = want.sort_values(["user_id", "ts"]).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert (got_s["right_quote"].fillna(-1).values == want_s["quote"].fillna(-1).values).all()


def test_range_join_band(spark):
    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") == 1).limit(50)
    a = ev.select("event_id", "ts")
    b = ev.select(F.col("event_id").alias("eb"), F.col("ts").alias("tsb"))
    got = asof.range_join(a, b, "ts", "tsb", 0, 3600)
    # oracle: plain conditional join (fine at this size); micros-exact
    # band, same contract as the operator
    want = (
        a.join(b)
        .filter(
            (F.unix_micros(F.col("tsb").cast("timestamp"))
             >= F.unix_micros(F.col("ts").cast("timestamp")))
            & (F.unix_micros(F.col("tsb").cast("timestamp"))
               <= F.unix_micros(F.col("ts").cast("timestamp")) + 3600 * 1_000_000)
        )
        .count()
    )
    assert got.count() == want


# -- sketches ---------------------------------------------------------------


def test_approx_distinct_within_tolerance(spark):
    ev = load_table(spark, SF_DIR, "events")
    approx = {
        r.event_type: r.approx_users
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(0.05 * n, 2), (k, approx[k], n)


def test_approx_quantiles_within_tolerance(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.event_type: r.q
        for r in ev.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.25, 0.5, 0.75], 10000).alias("q"))
        .collect()
    }
    exact = {
        r.event_type: r.q
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("q"))
        .collect()
    }
    for k, qs in exact.items():
        span = max(qs) - min(qs) or 1.0
        for a, e in zip(got[k], qs):
            assert abs(a - e) <= 0.05 * span + 1e-9, (k, a, e)


# -- hypertable rollup ------------------------------------------------------


def test_rollup_cascade_equals_direct(spark):
    """3-level cascade 1m->5m->1h: the top level must equal direct
    aggregation of raw at 1h (the continuous-aggregate invariant)."""
    from sparkplans.operators.rollup import timeseries_rollup

    ev = load_table(spark, SF_DIR, "events")
    cascade = timeseries_rollup(ev, ["1 minute", "5 minutes", "1 hour"], keys=["event_type"])
    direct = timeseries_rollup(ev, ["1 hour"], keys=["event_type"])
    got = {
        (r.bin, r.event_type): (r.cnt, r.sum_value, r.min_value, r.max_value)
        for r in cascade["1 hour"].collect()
    }
    want = {
        (r.bin, r.event_type): (r.cnt, r.sum_value, r.min_value, r.max_value)
        for r in direct["1 hour"].collect()
    }
    assert got == want


def test_rollup_rejects_non_nesting_intervals(spark):
    from sparkplans.operators.rollup import timeseries_rollup

    ev = load_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError, match="must nest"):
        timeseries_rollup(ev, ["3 minutes", "10 minutes"])


# -- multimodal -------------------------------------------------------------


def test_image_features_plumbing(spark):
    """Default name runs the REAL decode: widths/heights/channel means
    come from actual decoded pixels of the PNG payloads."""
    media = multimodal.synthetic_media(spark, n=30)
    feats = {r.media_id: r for r in multimodal.extract_image_features(media).collect()}
    imgs = media.filter("kind = 'image'").collect()
    assert len(feats) == len(imgs)
    for row in imgs:
        arr = multimodal.decode_image(bytes(row.payload))
        got = feats[row.media_id]
        assert (got.width, got.height) == (arr.shape[1], arr.shape[0])
        assert got.channel_means == pytest.approx(
            [float(m) for m in arr.mean(axis=(0, 1))]
        )


def test_ppm_decode_roundtrip_and_real_features(spark):
    """The PPM branch is REAL end-to-end: encode->decode round-trips
    bit-for-bit, and the Spark-side channel means equal numpy's on the
    actual pixels."""
    import numpy as np

    a = (np.arange(4 * 3 * 3, dtype="uint8") * 5 % 256).reshape(3, 4, 3)
    assert (multimodal.decode_ppm(multimodal.encode_ppm(a)) == a).all()

    media = multimodal.synthetic_ppm_media(spark, n=12)
    feats = {r.media_id: r
             for r in multimodal.extract_image_features(media).collect()}
    assert len(feats) == 12
    for row in media.collect():
        arr = multimodal.decode_ppm(bytes(row.payload))
        got = feats[row.media_id]
        assert (got.width, got.height) == (arr.shape[1], arr.shape[0])
        want = [float(m) for m in arr.mean(axis=(0, 1))]
        assert got.channel_means == pytest.approx(want)


def test_ppm_resize_real_nearest_neighbor(spark):
    """Resize output decodes to exactly the nearest-neighbor
    subsampling of the source pixels (verified against numpy)."""
    import numpy as np

    media = multimodal.synthetic_ppm_media(spark, n=6)
    out = {r.media_id: bytes(r.payload)
           for r in multimodal.resize_images(media, width=4, height=4).collect()}
    for row in media.collect():
        src = multimodal.decode_ppm(bytes(row.payload))
        h, w = src.shape[:2]
        yi = np.minimum((np.arange(4) * h) // 4, h - 1)
        xi = np.minimum((np.arange(4) * w) // 4, w - 1)
        want = src[yi][:, xi]
        got = multimodal.decode_ppm(out[row.media_id])
        assert (got == want).all()


def test_video_frame_sampling_plumbing(spark):
    """Default name really decodes the Y4M payloads: one row per tick,
    luma stats match numpy on the actual sampled frame."""
    import numpy as np

    media = multimodal.synthetic_media(spark, n=30)
    frames = multimodal.sample_video_frames(media, every_ms=200)
    pdf = frames.toPandas()
    vids = {r.media_id: bytes(r.payload)
            for r in media.filter("kind = 'video'").collect()}
    assert set(pdf["media_id"]) == set(vids)
    assert pdf.groupby("media_id")["frame_idx"].min().eq(0).all()
    # spot-check one clip's luma against a direct decode
    mid = min(vids)
    arr, fps = multimodal.decode_y4m(vids[mid])
    sub = pdf[pdf["media_id"] == mid].sort_values("t_ms")
    assert len(sub) == int(np.ceil(arr.shape[0] / fps * 1000 / 200))
    for _, r in sub.iterrows():
        y = arr[int(r.frame_idx), :, :, 0].astype("float64")
        assert r.luma_mean == pytest.approx(float(y.mean()))


def test_image_resize_plumbing(spark):
    """Default name really resizes: output payloads re-decode at the
    target size to the nearest-neighbor subsample of the source."""
    import numpy as np

    media = multimodal.synthetic_media(spark, n=30)
    resized = multimodal.resize_images(media, width=8, height=6)
    rows = resized.collect()
    assert len(rows) == media.filter("kind = 'image'").count()
    srcs = {r.media_id: bytes(r.payload)
            for r in media.filter("kind = 'image'").collect()}
    for r in rows:
        src = multimodal.decode_image(srcs[r.media_id])
        h, w = src.shape[:2]
        yi = np.minimum((np.arange(6) * h) // 6, h - 1)
        xi = np.minimum((np.arange(8) * w) // 8, w - 1)
        got = multimodal.decode_image(bytes(r.payload))
        assert (got == src[yi][:, xi]).all()  # PNG is lossless


def test_audio_resample_plumbing(spark):
    """Default name really resamples the WAV payloads: output decodes
    at target_hz with the duration-correct sample count."""
    media = multimodal.synthetic_media(spark, n=30)
    out = multimodal.resample_audio(media, target_hz=16000).collect()
    auds = {r.media_id: bytes(r.payload)
            for r in media.filter("kind = 'audio'").collect()}
    assert {r.media_id for r in out} == set(auds)
    for r in out:
        assert r.sample_rate == 16000
        src, src_rate = multimodal.decode_wav(auds[r.media_id])
        assert r.n_samples == max(int(round(src.shape[0] * 16000 / src_rate)), 1)
        dec, rate = multimodal.decode_wav(bytes(r.payload))
        assert rate == 16000 and dec.shape[0] == r.n_samples


def test_applyinpandas_trend_matches_sql_twin(spark):
    """Grouped-map Pandas UDF (SURVEY §2.10): per-user least-squares
    slope via numpy inside applyInPandas, cross-checked against the
    closed-form JVM-side query (queries/user_value_trend) — same
    numbers, different engine path."""
    import numpy as np
    import pandas as pd

    import sparkplans.queries as Q

    ev = load_table(spark, SF_DIR, "events")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pd.to_datetime(pdf["ts"]).astype("int64") // 1_000_000_000
        y = pdf["value"]
        if len(pdf) < 2 or x.nunique() < 2:
            return pd.DataFrame({"user_id": [pdf["user_id"].iloc[0]], "slope": [np.nan]})
        slope = np.polyfit(x.to_numpy(dtype=float), y.to_numpy(dtype=float), 1)[0]
        return pd.DataFrame({"user_id": [pdf["user_id"].iloc[0]], "slope": [slope]})

    got = {
        r.user_id: r.slope
        for r in ev.groupBy("user_id")
        .applyInPandas(fit, "user_id BIGINT, slope DOUBLE")
        .collect()
    }
    want = {
        r.user_id: r.slope
        for r in Q.REGISTRY["user_value_trend"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for uid, w in want.items():
        if w is not None and got[uid] == got[uid]:  # skip NaN
            assert abs(got[uid] - w) < 1e-6 + abs(w) * 1e-4, (uid, got[uid], w)


def test_stratified_sample_by_lang(spark):
    """sampleBy: per-stratum fractions with a fixed seed — the
    training-data downsampling idiom.  Deterministic given the seed,
    and per-language counts land near the requested fraction."""
    d = load_table(spark, SF_DIR, "documents")
    fractions = {"en": 0.5, "de": 0.2, "fr": 1.0}
    s1 = d.sampleBy("lang", fractions, seed=7)
    s2 = d.sampleBy("lang", fractions, seed=7)
    c1 = {r.lang: r["count"] for r in s1.groupBy("lang").count().collect()}
    c2 = {r.lang: r["count"] for r in s2.groupBy("lang").count().collect()}
    assert c1 == c2  # same seed -> identical sample
    base = {r.lang: r["count"] for r in d.groupBy("lang").count().collect()}
    for lang, frac in fractions.items():
        if lang in base and base[lang] >= 20:
            got = c1.get(lang, 0) / base[lang]
            assert abs(got - frac) < 0.25, (lang, got, frac)
    assert set(c1) <= set(fractions)


def test_asof_join_forward_matches_pandas(spark):
    import pandas as pd

    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 5)
    quotes = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("quote")
    )
    trades = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    got = asof.asof_join(
        trades, quotes, key="user_id", direction="forward"
    ).toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)
    lp = trades.toPandas().sort_values("ts")
    rp = quotes.toPandas().sort_values("ts")
    want = pd.merge_asof(
        lp, rp, on="ts", by="user_id", direction="forward"
    ).sort_values(["user_id", "ts"]).reset_index(drop=True)
    assert len(got) == len(want)
    g = got.set_index(["user_id", "ts"])["right_quote"].sort_index()
    w = want.set_index(["user_id", "ts"])["quote"].sort_index()
    assert ((g.isna() & w.isna()) | (g == w)).all()


def test_pii_redaction_planted(spark):
    """The synthetic corpus has no PII (query shows zero counts — a
    true negative); plant emails/phones and prove detection + full
    redaction."""
    from sparkplans.queries import PII_PATTERN

    rows = [
        (1, "contact me at alice.smith+work@example.co.uk today"),
        (2, "call 555-123-4567 or 555-987-6543 now"),
        (3, "no personal data here at all"),
        (4, "mixed: bob@test.io and 111-222-3333"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    flagged = {r.doc_id for r in df.filter(F.col("text").rlike(PII_PATTERN)).collect()}
    assert flagged == {1, 2, 4}
    red = df.select(F.regexp_replace("text", PII_PATTERN, "[PII]").alias("t"))
    assert red.filter(F.col("t").rlike(PII_PATTERN)).count() == 0
    assert red.filter(F.col("t").contains("[PII]")).count() == 3
    # doc 2 has TWO phone numbers -> both redacted
    two = red.collect()[1].t
    assert two.count("[PII]") == 2


def test_validate_rules_single_pass(spark):
    """All expectations in one aggregate pass; violations counted
    exactly (planted bad rows)."""
    from sparkplans import plans
    from sparkplans.operators import quality as Qa

    base = load_table(spark, SF_DIR, "orders")
    planted = base.unionByName(
        base.limit(3).withColumn("o_totalprice", F.lit(-5.0))  # dup keys + bad range
    )
    rules = [
        Qa.not_null("o_custkey"),
        Qa.unique("o_orderkey"),
        Qa.in_range("o_totalprice", 0, 1e9),
        Qa.accepted_values("o_orderstatus", ["F", "O", "P"]),
        Qa.matches("o_orderpriority", r"^\d-[A-Z ]+$"),
    ]
    report = Qa.validate(planted, rules)
    assert report["not_null(o_custkey)"] == 0
    assert report["unique(o_orderkey)"] == 3
    assert report["in_range(o_totalprice,0,1000000000.0)"] == 3
    assert report["accepted_values(o_orderstatus)"] == 0
    assert report["matches(o_orderpriority)"] == 0
    # clean data -> all zeros
    assert all(v == 0 for v in Qa.validate(base, rules).values())


def test_pandas_udf_scalar_and_grouped_agg(spark):
    """The remaining two UDF quadrants (SURVEY §2.10): Arrow-batched
    scalar pandas_udf and grouped-agg pandas_udf, each cross-checked
    against the JVM-side equivalent."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ev = load_table(spark, SF_DIR, "events").select("user_id", "value")

    @pandas_udf("double")
    def clipped(v: pd.Series) -> pd.Series:
        return v.clip(lower=0.0, upper=100.0)

    got = ev.select(F.sum(clipped("value")).alias("s")).collect()[0].s
    want = ev.select(
        F.sum(F.least(F.greatest("value", F.lit(0.0)), F.lit(100.0))).alias("s")
    ).collect()[0].s
    assert abs(got - want) < 1e-6

    @pandas_udf("double")
    def mean_udaf(v: pd.Series) -> float:
        return float(v.mean())

    got_g = {
        r.user_id: r.m
        for r in ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(mean_udaf("value").alias("m"))
        .collect()
    }
    want_g = {
        r.user_id: r.m
        for r in ev.filter(F.col("user_id") < 10).groupBy("user_id").agg(F.avg("value").alias("m")).collect()
    }
    assert set(got_g) == set(want_g)
    for k in want_g:
        assert abs(got_g[k] - want_g[k]) < 1e-9


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, pair 10-11, isolated-by-absence 99: min-label
    propagation finds exact components in diameter rounds."""
    from sparkplans.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (5, 4), (4, 3)],
        "id_a long, id_b long",
    )
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_empty_pairs(spark):
    from sparkplans.operators.dedup import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []


def test_planted_contamination_is_flagged(spark, tmp_path):
    """A text planted into both splits must be caught by the n-gram
    decontamination check — correctness beyond the DuckDB twin."""
    import sparkplans.queries as Q
    from sparkplans.sources import load_table

    SF = "/root/testdata/sf0.001"
    docs = load_table(spark, SF, "documents")
    # doc_ids whose md5-mod split is train vs test
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint")
    ids = docs.select("doc_id", (h % 100 < 90).alias("is_train")).collect()
    train_id = next(r.doc_id for r in ids if r.is_train)
    test_id = next(r.doc_id for r in ids if not r.is_train)
    leak = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id").isin(train_id, test_id), F.lit(leak)).otherwise(
            F.col("text")
        ),
    )
    out = str(tmp_path / "planted_docs")
    planted.write.mode("overwrite").parquet(out)
    import shutil, os

    sf_dir = str(tmp_path / "sf_planted")
    os.makedirs(sf_dir)
    for t in ("documents",):
        shutil.move(out, os.path.join(sf_dir, "documents.parquet"))
    flagged = Q.REGISTRY["decontamination_ngrams"].fn(spark, sf_dir)
    rows = {r.doc_id: r.n_shared_grams for r in flagged.collect()}
    assert test_id in rows and rows[test_id] >= 3  # 10 tokens -> 3 8-grams


def test_quota_sample_exact_quota_and_determinism(spark):
    import sparkplans.queries as Q
    from sparkplans.sources import load_table

    SF = "/root/testdata/sf0.01"
    out1 = Q.REGISTRY["quota_sample_per_lang"].fn(spark, SF)
    sizes = {r.lang: r.cnt for r in out1.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    docs = load_table(spark, SF, "documents")
    group_sizes = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, n in group_sizes.items():
        assert sizes.get(lang, 0) == min(10, n)
    # deterministic: second run picks the identical sample
    a = sorted((r.lang, r.doc_id) for r in out1.collect())
    b = sorted(
        (r.lang, r.doc_id)
        for r in Q.REGISTRY["quota_sample_per_lang"].fn(spark, SF).collect()
    )
    assert a == b


def test_sequence_packing_conserves_tokens(spark):
    """Every token lands in exactly one sequence; per-shard totals are
    conserved and seq indices are contiguous from 0."""
    import sparkplans.queries as Q
    from sparkplans.sources import load_table

    SF = "/root/testdata/sf0.01"
    packed = Q.REGISTRY["sequence_packing"].fn(spark, SF)
    docs = load_table(spark, SF, "documents")
    want = {
        r.lang: r.tok
        for r in docs.select(
            "lang", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n")
        )
        .groupBy("lang")
        .agg(F.sum("n").alias("tok"))
        .collect()
    }
    got = {}
    idx = {}
    for r in packed.collect():
        got[r.lang] = got.get(r.lang, 0) + r.tokens
        idx.setdefault(r.lang, set()).add(r.seq_idx)
    assert got == want
    for lang, s in idx.items():
        assert s == set(range(len(s))), f"gaps in seq indices for {lang}"


def test_deduplicate_materializes_survivors(spark):
    """End-to-end corpus dedup: planted clones vanish, their canonical
    (min-id) original survives, everything else passes through."""
    from sparkplans.operators import dedup
    from sparkplans.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    base = {r.doc_id for r in docs.select("doc_id").collect()}
    src = docs.orderBy("doc_id").first()
    clone_ids = [max(base) + i + 1 for i in range(3)]
    clones = spark.createDataFrame(
        [(cid, src.text) for cid in clone_ids], "doc_id long, text string"
    )
    planted = docs.unionByName(clones)

    out = dedup.deduplicate(planted, threshold=0.995)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    removed = (base | set(clone_ids)) - kept
    assert set(clone_ids) <= removed, "planted clones survived dedup"
    assert src.doc_id in kept, "canonical survivor was dropped"
    # at jaccard >= 0.995 only identical shingle sets cluster; the
    # synthetic corpus has no exact dups, so ONLY the clones go
    assert removed == set(clone_ids), f"unexpected removals: {removed - set(clone_ids)}"


def test_bow_duplicate_groups_planted(spark, tmp_path):
    """A word-order permutation of an existing doc must collide on the
    sorted-token fingerprint.  The stock corpus has no duplicates at
    all (the registered query is legitimately 0-row there), so this
    planted permutation proves the blocker actually fires."""
    import os

    import sparkplans.queries as Q
    from sparkplans.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    victim = docs.orderBy("doc_id").first()
    shuffled = " ".join(reversed(victim.text.split()))
    assert shuffled != victim.text  # a real reorder, not a palindrome
    clone_id = victim.doc_id + 10_000_000
    planted = docs.unionByName(
        spark.createDataFrame(
            [(clone_id, shuffled, victim.lang, victim.source, len(shuffled))],
            docs.schema,
        )
    )
    sf_dir = str(tmp_path / "sf_bow")
    os.makedirs(sf_dir)
    planted.write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )

    groups = Q.REGISTRY["bow_duplicate_groups"].fn(spark, sf_dir).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2
    assert groups[0].keeper_doc == victim.doc_id


def test_hll_sketch_rollup_merge_and_persistence(spark, tmp_path):
    """Daily HLL sketches: estimates within 5% of exact; unioning the
    persisted daily states equals sketching the raw corpus directly
    (lossless merge at matching lgK) — the no-rescan pattern."""
    from sparkplans.operators.sketches import hll_rollup, hll_union_rollup
    from sparkplans.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    daily = hll_rollup(ev, id_col="user_id", keys=["event_type"], interval="1 day")

    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }

    # persist the mergeable state, read it back, coarsen day -> type
    path = str(tmp_path / "daily_sketches")
    daily.write.parquet(path)
    merged = hll_union_rollup(spark.read.parquet(path), ["event_type"])
    est = {r.event_type: r.distinct_est for r in merged.collect()}
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert abs(est[t] - n) / n < 0.05, (t, est[t], n)

    # lossless union: merged-from-daily == sketched-directly-from-raw
    direct = hll_rollup(ev, id_col="user_id", keys=["event_type"])
    direct_est = {r.event_type: r.distinct_est for r in direct.collect()}
    assert est == direct_est


def test_profile_single_pass_and_planted_values(spark):
    """Profiler reports exact nulls/ranges and tolerant distincts on a
    frame with planted nulls; approx mode stays one aggregation pass
    (no per-column jobs)."""
    from sparkplans import plans
    from sparkplans.operators.profile import profile

    df = spark.createDataFrame(
        [(i, float(i % 10) if i % 5 else None, f"s{i % 3}") for i in range(100)],
        "id long, v double, s string",
    )
    rows = {r.column: r for r in profile(df, approx=False).collect()}
    assert rows["id"].n_rows == 100 and rows["id"].n_nulls == 0
    assert rows["id"].n_distinct == 100
    assert rows["v"].n_nulls == 20
    assert rows["v"].n_distinct == 8  # 1..9 minus multiples of 5 -> {1,2,3,4,6,7,8,9}
    assert (rows["v"].min_value, rows["v"].max_value) == (1.0, 9.0)
    assert rows["s"].n_distinct == 3 and rows["s"].min_value is None

    approx = profile(df, approx=True)
    arows = {r.column: r for r in approx.collect()}
    for c in ("id", "v", "s"):
        exact = rows[c].n_distinct
        assert abs(arows[c].n_distinct - exact) / max(exact, 1) < 0.05
    # sketch aggregates keep the profile to single-partition exchanges
    # of constant-size aggregation states (the planner may stage the
    # merge as two SinglePartition hops; either way no data shuffles)
    assert plans.num_exchanges(approx) <= 2

    import pytest

    with pytest.raises(ValueError):
        profile(df, columns=["nope"])


def test_pagerank_matches_closed_form_reference(spark):
    """DataFrame PageRank == pure-Python power iteration (identical
    semantics incl. dangling redistribution) on a known graph."""
    from sparkplans.operators.graph import pagerank

    edge_list = [(1, 2), (1, 3), (2, 3), (3, 4)]  # 4 is dangling
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}

    d, n = 0.85, 4
    nodes = [1, 2, 3, 4]
    out = {}
    for s, t in edge_list:
        out.setdefault(s, []).append(t)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        inflow = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            for t in ts:
                inflow[t] += ranks[s] / len(ts)
        base = (1 - d) / n + d * dangling / n
        ranks = {v: base + d * inflow[v] for v in nodes}

    assert set(got) == set(ranks)
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])
    # rank is a probability distribution (dangling mass conserved)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_empty_edges(spark):
    from sparkplans.operators.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(edges, iterations=3).count() == 0


def test_pagerank_shuffle_path_parity(spark, monkeypatch):
    """The |V|-above-threshold SHUFFLE path (src-partitioned edges,
    shuffled ranks join, dangling fold on that branch) produces the
    same ranks as the default broadcast path and the closed form.

    All the other graph tests use tiny graphs, so without forcing
    ``_PAGERANK_BROADCAST_NODES=0`` this branch would never execute
    (ADVICE r5: unpinned branch)."""
    from sparkplans.operators import graph
    from sparkplans.operators.graph import pagerank
    from tests.cuts import pagerank_path, record_cuts

    # richer graph than the closed-form test: a hub, a cycle, two
    # dangling sinks, and a self-feeding pair
    edge_list = [
        (1, 2), (1, 3), (1, 4), (2, 3), (3, 1), (4, 5),
        (5, 6), (6, 4), (3, 7), (2, 8), (8, 2),
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    with monkeypatch.context() as mp:
        mp.setattr(graph, "_PAGERANK_BROADCAST_NODES", 0)
        cuts = record_cuts(mp, graph)
        shuffled = {r.node: r.rank for r in pagerank(edges, iterations=8).collect()}
        assert pagerank_path(cuts) == "shuffle"
    with monkeypatch.context() as mp:
        cuts = record_cuts(mp, graph)
        bcast = {r.node: r.rank for r in pagerank(edges, iterations=8).collect()}
        assert pagerank_path(cuts) == "broadcast"

    assert set(shuffled) == set(bcast)
    for v in bcast:
        assert abs(shuffled[v] - bcast[v]) < 1e-9, (v, shuffled[v], bcast[v])
    assert abs(sum(shuffled.values()) - 1.0) < 1e-9


def _persisted_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize(
    "op, dangling, shuffle",
    [
        ("pagerank", False, False),
        ("pagerank", False, True),
        ("pagerank", True, False),
        ("label_propagation", False, False),
    ],
)
def test_iterative_cuts_released(spark, monkeypatch, op, dangling, shuffle):
    """Each superseded lineage cut is released as soon as the next one
    is built — lazy cuts included — so a call leaves only its returned
    cut persisted, and while it runs at most the two corpus caches plus
    two cuts (the live one and the one being built) hold blocks."""
    from sparkplans.operators import graph

    edge_list = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 4)]
    if dangling:
        edge_list.append((4, 5))
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    if shuffle:
        monkeypatch.setattr(graph, "_PAGERANK_BROADCAST_NODES", 0)
    baseline, peak = _persisted_ids(spark), []

    def recorded(cut):
        def wrapper(*args, **kwargs):
            out = cut(*args, **kwargs)
            peak.append(len(_persisted_ids(spark) - baseline))
            return out

        return wrapper

    for cut in ("materialize", "materialize_lazy"):
        monkeypatch.setattr(graph, cut, recorded(getattr(graph, cut)))
    out = getattr(graph, op)(edges, iterations=6)
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    returned = leaves.head().rdd().id()
    assert _persisted_ids(spark) - baseline == {returned}
    assert max(peak) <= 4, peak
    assert out.count() == (5 if dangling else 4)


def test_materialize_release_frees_blocks(spark):
    """materialize.release drops a local checkpoint's storage blocks
    deterministically (no GC/ContextCleaner wait) — the lever that
    keeps pagerank's shuffle-path re-layout at ONE corpus-sized cache.
    Non-checkpoint frames are a safe no-op returning False."""
    import pyspark.sql.functions as F
    from sparkplans.materialize import materialize, release

    jsc = spark.sparkContext._jsc.sc()

    def n_cached():
        return len(jsc.getRDDStorageInfo())

    base = n_cached()
    df = spark.range(100_000).withColumn("x", F.rand(1)).transform(materialize)
    assert n_cached() == base + 1
    assert release(df) is True
    assert n_cached() == base
    # plain (unmaterialized) frame: no-op, False
    assert release(spark.range(10)) is False


def test_expectations_planted_violations(spark):
    """Each check kind reports the exact planted violation count; FK
    nulls pass (SQL semantics); clean table passes everything."""
    from sparkplans.operators import expectations as X

    df = spark.createDataFrame(
        [
            (1, "O", 10.0, "1-URGENT", 100),
            (2, "O", -5.0, "9-BAD", 100),       # range + regex violations
            (2, "Z", 20.0, "2-HIGH", 999),      # dup id, bad status, bad FK
            (None, "F", None, None, None),      # null id; null FK passes
        ],
        "id long, status string, price double, prio string, custkey long",
    )
    ref = spark.createDataFrame([(100,), (200,)], "c_custkey long")
    got = {
        r.check_name: r
        for r in X.validate(
            df,
            [
                X.not_null("id"),
                X.unique("id"),
                X.accepted_values("status", ["O", "F", "P"]),
                X.in_range("price", 0, 100),
                X.matches("prio", "^[1-5]-"),
                X.foreign_key("custkey", "ref", "c_custkey"),
            ],
            refs={"ref": ref},
        ).collect()
    }
    assert len(got) == 6 and all(r.n_rows == 4 for r in got.values())
    v = {k: r.n_violations for k, r in got.items()}
    assert v["not_null(id)"] == 1
    assert v["unique(id)"] == 1          # 4 rows, 3 distinct non-null... dup pair
    assert v["accepted_values(status)"] == 1
    assert v["in_range(price)"] == 1     # nulls don't violate range
    assert v["matches(prio)"] == 1       # nulls don't violate regex
    assert v["foreign_key(custkey->ref.c_custkey)"] == 1  # null FK passes
    assert not any(r.passed for r in got.values())

    clean = X.validate(
        ref.withColumnRenamed("c_custkey", "id"),
        [X.not_null("id"), X.unique("id")],
    )
    assert all(r.passed and r.n_violations == 0 for r in clean.collect())


def test_expectations_errors_and_broadcast_plan(spark):
    from sparkplans import plans
    from sparkplans.operators import expectations as X
    import pytest

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        X.validate(df, [])
    with pytest.raises(ValueError):
        X.validate(df, [X.not_null("nope")])
    with pytest.raises(ValueError):
        X.validate(df, [X.foreign_key("a", "missing", "x")])
    with pytest.raises(ValueError):
        X.in_range("a")

    out = X.validate(
        df, [X.foreign_key("a", "r", "x")],
        refs={"r": spark.createDataFrame([(1,)], "x long")},
    )
    assert "BroadcastHashJoin" in plans.plan_text(out)


def test_table_diff_planted_changes_and_null_semantics(spark):
    """insert/delete/update classification with null-safe compare:
    null->value and value->null are updates, null->null is unchanged;
    changed_cols names exactly the differing columns."""
    from sparkplans.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, None, 3.0), (4, "d", 4.0)],
        "id long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),        # unchanged
         (2, "b2", None),      # s updated, null v unchanged
         (3, None, None),      # v: value -> null = update
         (5, "e", 5.0)],       # insert; 4 deleted
        "id long, s string, v double",
    )
    got = {
        r.id: r
        for r in table_diff(
            old, new, ["id"], include_changed_cols=True
        ).collect()
    }
    assert set(got) == {2, 3, 4, 5}
    assert got[2].change_type == "update" and got[2].changed_cols == ["s"]
    assert got[3].change_type == "update" and got[3].changed_cols == ["v"]
    assert got[4].change_type == "delete" and got[4].changed_cols == []
    assert got[5].change_type == "insert" and got[5].changed_cols == []

    # hash_compare mode classifies identically
    h = {r.id: r.change_type for r in table_diff(old, new, ["id"], hash_compare=True).collect()}
    assert h == {k: r.change_type for k, r in got.items()}

    import pytest

    with pytest.raises(ValueError):
        table_diff(old, new, [])
    with pytest.raises(ValueError):
        table_diff(old, new, ["nope"])


def test_table_diff_key_only_and_subset_compare(spark):
    from sparkplans.operators.diff import table_diff

    old = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    new = spark.createDataFrame([(1, 99), (3, 30)], "k long, v long")
    # compare=[] => pure key membership diff: no updates possible
    only_keys = {r.k: r.change_type for r in table_diff(old, new, ["k"], compare=[]).collect()}
    assert only_keys == {2: "delete", 3: "insert"}
    full = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    assert full == {1: "update", 2: "delete", 3: "insert"}


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; adding a pendant edge changes nothing;
    direction and duplicate edges don't affect the census."""
    from sparkplans.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    messy = k4 + [(b, a) for a, b in k4] + [(4, 5), (1, 1)]  # reversed dups, pendant, loop
    got = triangle_count(spark.createDataFrame(messy, "src long, dst long")).collect()[0]
    assert (got.n_edges, got.n_triangles) == (7, 4)

    empty = triangle_count(spark.createDataFrame([], "src long, dst long")).collect()[0]
    assert (empty.n_edges, empty.n_triangles) == (0, 0)


def test_label_propagation_known_graphs(spark):
    """Two triangles bridged by one edge resolve to two communities
    led by each triangle's min id; a clique collapses to its min id;
    direction/duplicate edges don't matter; results are deterministic
    across calls (min-label tie-break, fixed iterations)."""
    from sparkplans.operators.graph import label_propagation

    # triangles {1,2,3} and {7,8,9}, bridge 3-7
    tri = [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9), (3, 7)]
    messy = tri + [(b, a) for a, b in tri] + [(2, 1)]
    got = {
        r.node: r.label
        for r in label_propagation(
            spark.createDataFrame(messy, "src long, dst long"), iterations=8
        ).collect()
    }
    # hand-simulated fixed point: the left triangle keeps label 1;
    # min-tie-breaks pull the bridge node's id (3) into the right
    # triangle, which stabilizes as its own community labeled 3 —
    # two distinct communities, both labels real node ids
    assert {got[1], got[2], got[3]} == {1}, got
    assert {got[7], got[8], got[9]} == {3}, got

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    gk = {
        r.node: r.label
        for r in label_propagation(
            spark.createDataFrame(k4, "src long, dst long"), iterations=6
        ).collect()
    }
    assert set(gk.values()) == {1}, gk

    again = {
        r.node: r.label
        for r in label_propagation(
            spark.createDataFrame(messy, "src long, dst long"), iterations=8
        ).collect()
    }
    assert again == got


def test_weighted_sample_properties(spark):
    """Deterministic across calls and seeds partition the choice;
    higher weight wins more often (statistical sanity on a planted
    two-weight population); global k works via top-k."""
    from sparkplans.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 100.0 if i % 10 == 0 else 1.0, "g") for i in range(1000)],
        "id long, w double, g string",
    )
    s1 = sorted(r.id for r in weighted_sample(df, "id", "w", 50).collect())
    s2 = sorted(r.id for r in weighted_sample(df, "id", "w", 50).collect())
    assert s1 == s2 and len(s1) == 50
    # heavy ids are 10% of rows but carry 100x weight -> dominate
    heavy = sum(1 for i in s1 if i % 10 == 0)
    assert heavy > 35, heavy

    s3 = sorted(r.id for r in weighted_sample(df, "id", "w", 50, seed=99).collect())
    assert s3 != s1  # different seed, different sample

    strat = weighted_sample(df, "id", "w", 7, strata=["g"]).collect()
    assert len(strat) == 7 and all(r.sample_key > 0 for r in strat)

    import pytest

    with pytest.raises(ValueError):
        weighted_sample(df, "id", "w", 0)


def test_table_diff_roundtrip_reconstructs_new(spark):
    """Applying the change set to `old` reproduces `new` exactly —
    the CDC soundness invariant: new == old - deletes - updates_old
    + updates_new + inserts."""
    from sparkplans.operators.diff import table_diff

    old = spark.createDataFrame(
        [(i, f"s{i % 7}", float(i % 13)) for i in range(500)],
        "k long, s string, v double",
    )
    # new: drop k%11==0, mutate k%13==0, insert 500..519
    new = (
        old.filter(F.col("k") % 11 != 0)
        .withColumn(
            "v",
            F.when(F.col("k") % 13 == 0, F.col("v") + 100.0).otherwise(F.col("v")),
        )
        .unionByName(
            spark.createDataFrame(
                [(i, "new", -1.0) for i in range(500, 520)],
                "k long, s string, v double",
            )
        )
    )
    d = table_diff(old, new, ["k"]).cache()
    changed_keys = d.select("k", "change_type")
    reconstructed = (
        old.join(
            changed_keys.filter(F.col("change_type").isin("delete", "update")),
            "k",
            "left_anti",
        )
        .unionByName(
            new.join(
                changed_keys.filter(F.col("change_type").isin("update", "insert")),
                "k",
                "left_semi",
            )
        )
    )
    assert reconstructed.exceptAll(new).count() == 0
    assert new.exceptAll(reconstructed).count() == 0
    d.unpersist()


def test_validate_counts_match_annotate_rows(spark):
    """The aggregate report and the row-level annotation agree on
    every check's violation count (FK included)."""
    from sparkplans.operators import expectations as X

    df = spark.createDataFrame(
        [
            (i,
             None if i % 17 == 0 else f"u{i}",
             float(i % 50) - 5.0,
             i % 97)
            for i in range(400)
        ],
        "id long, name string, score double, fk long",
    )
    ref = spark.createDataFrame([(i,) for i in range(0, 97, 2)], "k long")
    checks = [
        X.not_null("name"),
        X.in_range("score", 0.0, None),
        X.foreign_key("fk", "ref", "k"),
    ]
    agg = {
        r.check_name: r.n_violations
        for r in X.validate(df, checks, refs={"ref": ref}).collect()
    }
    ann = X.annotate_violations(df, checks, refs={"ref": ref})
    from collections import Counter

    row_counts = Counter(
        n for r in ann.select("failed_checks").collect() for n in r.failed_checks
    )
    assert agg == dict(row_counts), (agg, dict(row_counts))
    assert ann.count() == 400  # annotation never drops rows


def test_prefix_filter_join_matches_brute_force(spark):
    """SSJoin completeness: prefix-filtered pairs == brute-force
    all-pairs shingle-Jaccard at the same threshold (no false
    negatives, no false positives) on a corpus with planted dups."""
    from sparkplans.operators.dedup import prefix_filter_pairs, shingles

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "colorless green ideas sleep furiously every single night",
        "pack my box with five dozen liquor jugs right now",
        "a completely different sentence about spark physical plans",
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # planted near-dups: one-word edits of doc 0 and doc 2
    rows += [
        (10, base[0].replace("lazy", "sleepy")),
        (12, base[2].replace("five", "six")),
        (20, base[0]),  # exact dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.3
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_pairs(df, threshold=t).collect()
    }

    import itertools

    sh = {
        r.doc_id: set(r.s)
        for r in df.select("doc_id", shingles(F.col("text")).alias("s")).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        j = inter / (len(sh[a]) + len(sh[b]) - inter)
        if j >= t:
            want[(a, b)] = round(j, 6)
    assert want, "fixture must contain pairs above threshold"
    assert got == want, (got, want)

    import pytest

    with pytest.raises(ValueError):
        prefix_filter_pairs(df, threshold=0.0)


def test_prefix_filter_randomized_lengths_vs_brute_force(spark):
    """Randomized SSJoin completeness across skewed length ratios: the
    asymmetric probe/index prefixes, the length filter, and the
    positional filter are each only lossless under specific bounds
    (probe prefix needs the partner to be >= as large; the positional
    bound needs min(pos) to name the FIRST shared token), so this
    corpus mixes 5..60-word docs from a 12-word vocabulary (heavy
    shingle collisions) and checks exact pair equality against
    brute force at three thresholds."""
    import itertools
    import random

    from sparkplans.operators.dedup import prefix_filter_pairs, shingles

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(60):
        n_words = rng.randint(5, 60)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n_words))))
    # planted: exact dup of a long doc, near-dup of a short doc, and a
    # doc that is a strict prefix of another (extreme length ratio)
    rows.append((100, rows[3][1]))
    rows.append((101, rows[5][1] + " extra"))
    rows.append((102, rows[7][1].rsplit(" ", 3)[0]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sh = {
        r.doc_id: set(r.s)
        for r in df.select("doc_id", shingles(F.col("text")).alias("s")).collect()
    }
    for t in (0.3, 0.5, 0.8):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_filter_pairs(df, threshold=t).collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(sh), 2):
            inter = len(sh[a] & sh[b])
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= t:
                want[(a, b)] = round(j, 6)
        assert want, f"fixture must contain pairs above threshold {t}"
        assert got == want, (t, got.keys() ^ want.keys())


def test_prefix_filter_sliced_identical_pairs(spark, tmp_path):
    """Disk-bounded sliced SSJoin: slices=3 (index side split by
    xxhash64(id) % 3, one sequential sub-job per slice) must return
    the bit-identical pair set of the single-job run — each canonical
    pair is owned by exactly one slice via its LARGER record, so the
    union has no duplicates and no losses."""
    import random

    from sparkplans.operators.dedup import prefix_filter_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(10)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40))))
        for i in range(50)
    ]
    rows.append((200, rows[2][1]))
    rows.append((201, rows[9][1] + " tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(df, threshold=0.4).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(
            df, threshold=0.4, slices=3, slice_dir=str(tmp_path / "sl")
        ).collect()
    )
    assert want, "fixture must contain pairs above threshold"
    assert got == want, (len(got), len(want))


def test_prefix_filter_auto_slices(spark, tmp_path, monkeypatch):
    """slices='auto' sizes the slicing from the measured candidate
    volume vs the _SSJOIN_SLICE_BYTES budget: a tiny budget forces a
    multi-slice run (same pairs), the default budget resolves to a
    single-job plan (same pairs)."""
    import random

    from sparkplans.operators.dedup import prefix_filter_pairs

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30))))
        for i in range(40)
    ]
    rows.append((300, rows[4][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(df, threshold=0.4).collect()
    )
    assert want

    with monkeypatch.context() as mp:
        mp.setattr(dedup, "_SSJOIN_SLICE_BYTES", 50000)
        got_forced = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_pairs(
                df, threshold=0.4, slices="auto",
                slice_dir=str(tmp_path / "auto"),
            ).collect()
        )
    assert got_forced == want

    got_default = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(df, threshold=0.4, slices="auto").collect()
    )
    assert got_default == want


def test_prefix_filter_auto_slices_budget_honest_when_cap_binds(
    spark, tmp_path, monkeypatch
):
    """When _SSJOIN_MAX_SLICES clamps the auto slice count below what
    the _SSJOIN_SLICE_BYTES budget wants, the breach must be LOUD: a
    warning fires (telling the caller to pass an explicit slices=N
    with slice_range) and the sizing carries the projected per-slice
    scratch overage — on a real cluster with small executor-local
    disks a silent clamp is exactly the failure the budget exists to
    prevent.  The sizing is read by wrapping ``dedup._auto_slices``,
    which receives the measured raw candidate volume."""
    import random
    import warnings

    from sparkplans.operators import dedup
    from sparkplans.operators.dedup import prefix_filter_pairs

    decisions: list[tuple[int, tuple[int, int, int]]] = []
    real_auto = dedup._auto_slices

    def auto(raw_rows):
        out = real_auto(raw_rows)
        decisions.append((int(raw_rows), out))
        return out

    monkeypatch.setattr(dedup, "_auto_slices", auto)

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(df, threshold=0.4).collect()
    )

    monkeypatch.setattr(dedup, "_SSJOIN_SLICE_BYTES", 5000)
    with monkeypatch.context() as mp:
        mp.setattr(dedup, "_SSJOIN_MAX_SLICES", 2)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in prefix_filter_pairs(
                    df, threshold=0.4, slices="auto",
                    slice_dir=str(tmp_path / "cap"),
                ).collect()
            )
        assert got == want  # clamping never changes the result
        assert len(decisions) == 1
        raw, (slices, wanted, breach) = decisions[0]
        assert slices == 2 and wanted > 2  # the cap binds
        # breach = projected per-slice scratch minus budget, positive
        assert breach == raw * 72 // slices - 5000
        assert breach > 0
        msgs = [str(w.message) for w in caught]
        advice = f"explicit slices={wanted} and run it via slice_range"
        assert any(advice in m and "exceeds" in m for m in msgs), msgs

    # unclamped control on the same data: no breach
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        got2 = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_pairs(
                df, threshold=0.4, slices="auto",
                slice_dir=str(tmp_path / "uncap"),
            ).collect()
        )
    assert got2 == want
    assert len(decisions) == 2
    raw2, (slices2, wanted2, breach2) = decisions[1]
    assert raw2 == raw and slices2 == wanted2 > 2
    assert breach2 == 0
    assert not any("slice_range" in str(w.message) for w in caught2)


def test_auto_slices_arithmetic(monkeypatch):
    """``_auto_slices`` without Spark: the budget sets the wanted
    count (ceil of 72 bytes per raw candidate row over the budget),
    the cap clamps it, and a binding cap reports the projected
    per-slice overage and warns with the explicit-slices advice."""
    import warnings

    from sparkplans.operators import dedup

    monkeypatch.setattr(dedup, "_SSJOIN_SLICE_BYTES", 1000)
    monkeypatch.setattr(dedup, "_SSJOIN_MAX_SLICES", 4)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # none of these may warn
        assert dedup._auto_slices(0) == (1, 1, 0)
        assert dedup._auto_slices(13) == (1, 1, 0)  # 936 B fits one slice
        assert dedup._auto_slices(14) == (2, 2, 0)  # 1008 B needs two
        assert dedup._auto_slices(55) == (4, 4, 0)  # 3960 B: 4 x 990 B
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        # 10000 raw rows = 720000 B: wants 720 slices, capped at 4,
        # so each slice holds 180000 B against the 1000 B budget
        assert dedup._auto_slices(10_000) == (4, 720, 179_000)
    (w,) = caught
    msg = str(w.message)
    assert "explicit slices=720 and run it via slice_range" in msg, msg
    assert "exceeds" in msg and "4-slice cap binds" in msg, msg


def test_prefix_filter_slice_range_partitions_the_result(spark, tmp_path):
    """slice_range=(lo, hi) returns exactly the pairs owned by those
    slices: disjoint ranges union to the full unsliced result (the
    resumable-run / scale-probe contract); invalid ranges raise."""
    import random

    import pytest

    from sparkplans.operators.dedup import prefix_filter_pairs

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30))))
        for i in range(40)
    ]
    rows.append((300, rows[4][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(df, threshold=0.4).collect()
    )
    assert want

    K = 4
    got = []
    for rng_ in [(0, 1), (1, 3), (3, 4)]:
        got.extend(
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_pairs(
                df, threshold=0.4, slices=K,
                slice_dir=str(tmp_path / "ranges"), slice_range=rng_,
            ).collect()
        )
    assert sorted(got) == want  # disjoint ownership, full coverage

    # K=1 with a (0,1) range: the bounded run IS the full run
    got_k1 = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(
            df, threshold=0.4, slices=1, slice_range=(0, 1)
        ).collect()
    )
    assert got_k1 == want
    with pytest.raises(ValueError, match="outside"):
        prefix_filter_pairs(df, threshold=0.4, slices=4, slice_range=(2, 9))
    with pytest.raises(ValueError, match="outside"):
        prefix_filter_pairs(df, threshold=0.4, slices=1, slice_range=(1, 2))


def test_prefix_filter_reused_slice_dir_no_stale_merge(spark, tmp_path):
    """Reusing a slice_dir across runs must never merge stale slices:
    a first run with MORE slices than the second would previously
    leave slice=K parquet behind that mode('overwrite') on lower
    indices couldn't clear, duplicating pairs in the readback."""
    import random

    from sparkplans.operators.dedup import prefix_filter_pairs

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30))))
        for i in range(40)
    ]
    rows.append((400, rows[7][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(df, threshold=0.4).collect()
    )
    assert want
    shared = str(tmp_path / "reused")
    # First run with a HIGH slice count seeds the dir with slice=0..4.
    first = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(
            df, threshold=0.4, slices=5, slice_dir=shared
        ).collect()
    )
    assert first == want
    # Second run with fewer slices into the SAME dir must not read
    # the first run's leftovers.
    second = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(
            df, threshold=0.4, slices=2, slice_dir=shared
        ).collect()
    )
    assert second == want


def test_prefix_filter_slice_dir_retention_prunes_old_runs(spark, tmp_path):
    """With a caller-supplied slice_dir, run= subdirs older than
    _SSJOIN_SLICE_RETENTION_S (one day) are pruned on entry so
    repeated runs don't accumulate unbounded scratch on the shared
    store (ADVICE r5); YOUNG run= dirs (a concurrent session's live
    run) are never swept."""
    import os

    from sparkplans.operators.dedup import prefix_filter_pairs

    rows = [(i, f"a b c d e f g{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    shared = str(tmp_path / "retained")
    os.makedirs(shared)
    old = os.path.join(shared, "run=deadbeef")
    young = os.path.join(shared, "run=cafebabe")
    os.makedirs(old)
    os.makedirs(young)
    stale = time.time() - 7 * 86400
    os.utime(old, (stale, stale))

    got = prefix_filter_pairs(
        df, threshold=0.3, slices=2, slice_dir=shared
    ).collect()
    assert got is not None
    assert not os.path.exists(old), "week-old run dir should be pruned"
    assert os.path.exists(young), "fresh run dir must survive (live run)"


# -- Misra-Gries heavy hitters ----------------------------------------------


def test_misra_gries_guarantees_vs_exact(spark, docs):
    """MG with capacity c: every token with true count > n/(c+1)
    appears, and every estimate is a lower bound within n/(c+1)."""
    from sparkplans.operators import sketches

    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    exact = {r.tok: r.n for r in
             toks.groupBy("tok").agg(F.count("*").alias("n")).collect()}
    n = sum(exact.values())
    cap = 50
    got = {r.item: r.est_count for r in
           sketches.misra_gries_topk(toks, "tok", capacity=cap).collect()}
    assert got and len(got) <= cap
    bound = n / (cap + 1)
    for item, est in got.items():
        assert item in exact
        assert est <= exact[item]            # never overcount
        assert exact[item] - est <= bound + 1e-9, item
    for item, true in exact.items():
        if true > bound:
            assert item in got, f"heavy item {item} (count {true}) missing"


def test_png_decode_roundtrip_all_filters(spark):
    """The PNG branch is REAL: stdlib-zlib + numpy, no PIL.  The
    encoder cycles all five scanline filters (row i uses filter i%5),
    so a tall round-trip exercises None/Sub/Up/Average/Paeth
    unfiltering; RGB and RGBA both round-trip bit-for-bit, and CRC
    corruption is detected."""
    import numpy as np

    rgb = (np.arange(7 * 5 * 3, dtype="uint8") * 11 % 256).reshape(7, 5, 3)
    assert (multimodal.decode_png(multimodal.encode_png(rgb)) == rgb).all()
    rgba = (np.arange(6 * 4 * 4, dtype="uint8") * 23 % 256).reshape(6, 4, 4)
    assert (multimodal.decode_png(multimodal.encode_png(rgba)) == rgba).all()
    # every filter type really appears in the stream
    assert rgb.shape[0] >= 5
    # CRC check: flip one payload byte inside the IDAT chunk
    blob = bytearray(multimodal.encode_png(rgb))
    idat = blob.index(b"IDAT")
    blob[idat + 8] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(blob))


def test_png_features_match_numpy(spark):
    """Spark-side PNG channel means equal numpy's on the decoded
    pixels — the planted-PNG feature test mirroring the PPM branch."""
    media = multimodal.synthetic_png_media(spark, n=12)
    feats = {r.media_id: r
             for r in multimodal.extract_image_features(media).collect()}
    assert len(feats) == 12
    for row in media.collect():
        arr = multimodal.decode_png(bytes(row.payload))
        got = feats[row.media_id]
        assert (got.width, got.height) == (arr.shape[1], arr.shape[0])
        want = [float(m) for m in arr.mean(axis=(0, 1))]
        assert got.channel_means == pytest.approx(want)


def test_png_resize_real_nearest_neighbor(spark):
    import numpy as np

    media = multimodal.synthetic_png_media(spark, n=6)
    out = {r.media_id: bytes(r.payload)
           for r in multimodal.resize_images(media, width=4, height=4).collect()}
    for row in media.collect():
        src = multimodal.decode_png(bytes(row.payload))
        h, w = src.shape[:2]
        yi = np.minimum((np.arange(4) * h) // 4, h - 1)
        xi = np.minimum((np.arange(4) * w) // 4, w - 1)
        want = src[yi][:, xi]
        got = multimodal.decode_png(out[row.media_id])
        assert (got == want).all()


# -- real WAV / Y4M / BMP codec branches ------------------------------------


def test_wav_roundtrip_and_real_features(spark):
    """The WAV branch is REAL end-to-end: PCM16 round-trips
    bit-for-bit, and Spark-side RMS/ZCR/centroid equal numpy's on the
    actual decoded waveform."""
    import numpy as np

    rng = np.random.default_rng(11)
    a = rng.integers(-32768, 32767, size=(777, 2), dtype=np.int16)
    dec, rate = multimodal.decode_wav(multimodal.encode_wav(a, 22050))
    assert rate == 22050 and (dec == a).all()

    media = multimodal.synthetic_wav_media(spark, n=12)
    feats = {r.media_id: r for r in multimodal.decode_wav_features(media).collect()}
    assert len(feats) == 12
    for row in media.collect():
        arr, rate = multimodal.decode_wav(bytes(row.payload))
        got = feats[row.media_id]
        assert (got.sample_rate, got.n_samples, got.n_channels) == (
            rate, arr.shape[0], arr.shape[1],
        )
        mono = arr.mean(axis=1)
        assert got.rms == pytest.approx(float(np.sqrt(np.mean(mono**2))))
        want_zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        assert got.zero_crossing_rate == pytest.approx(want_zcr)
        mag = np.abs(np.fft.rfft(mono))
        freqs = np.fft.rfftfreq(len(mono), d=1.0 / rate)
        assert got.spectral_centroid_hz == pytest.approx(
            float((freqs * mag).sum() / mag.sum())
        )


def test_mfcc_matches_naive_reference_and_discriminates(spark):
    """extract_mfcc vs an independently-coded per-frame loop of the
    same spec (Hann -> power rfft -> HTK mel triangles -> log ->
    orthonormal DCT-II -> mean), plus sanity: different tones give
    different coefficients, identical clips identical ones, and
    sub-frame clips the zero vector."""
    import numpy as np

    def naive_mfcc(payload, n_mfcc=8, n_mels=20, frame=256, hop=128):
        a, rate = multimodal.decode_wav(payload)
        mono = a.mean(axis=1).astype("float64")
        if len(mono) < frame:
            return [0.0] * n_mfcc
        fb = multimodal._mel_filterbank(n_mels, frame, rate)
        rows = []
        for s in range(0, len(mono) - frame + 1, hop):
            spec = np.abs(np.fft.rfft(mono[s : s + frame] * np.hanning(frame))) ** 2
            logmel = np.log(fb @ spec + 1e-10)
            coefs = []
            for j in range(n_mfcc):
                c = sum(
                    logmel[k] * np.cos(np.pi * (k + 0.5) * j / n_mels)
                    for k in range(n_mels)
                )
                c *= np.sqrt((1.0 if j == 0 else 2.0) / n_mels)
                coefs.append(c)
            rows.append(coefs)
        return [float(x) for x in np.mean(rows, axis=0)]

    def tone(hz, n=2048, rate=16000):
        t = np.arange(n) / rate
        pcm = (np.sin(2 * np.pi * hz * t) * 20000).astype(np.int16)
        return multimodal.encode_wav(pcm.reshape(-1, 1), rate)

    rows = [
        (0, "audio", "audio/wav", bytearray(tone(440)), None, None, 128),
        (1, "audio", "audio/wav", bytearray(tone(3000)), None, None, 128),
        (2, "audio", "audio/wav", bytearray(tone(440)), None, None, 128),
        (3, "audio", "audio/wav",
         bytearray(multimodal.encode_wav(np.zeros((100, 1), np.int16), 16000)),
         None, None, 6),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.extract_mfcc(media).collect()}
    assert len(got) == 4
    for mid, payload in ((0, tone(440)), (1, tone(3000))):
        want = naive_mfcc(payload)
        for i in range(8):
            assert got[mid][f"mfcc_{i}"] == pytest.approx(want[i], rel=1e-9)
    assert [got[0][f"mfcc_{i}"] for i in range(8)] == [
        got[2][f"mfcc_{i}"] for i in range(8)
    ]
    assert any(
        abs(got[0][f"mfcc_{i}"] - got[1][f"mfcc_{i}"]) > 0.5 for i in range(8)
    )
    assert all(got[3][f"mfcc_{i}"] == 0.0 for i in range(8))


def test_wav_resample_real_linear_interp(spark):
    """Resampled payloads decode to exactly numpy's np.interp of the
    source waveform at the target rate — real DSP, not a digest."""
    import numpy as np

    media = multimodal.synthetic_wav_media(spark, n=6)
    out = {r.media_id: r
           for r in multimodal.resample_audio(media, target_hz=16000).collect()}
    for row in media.collect():
        src, rate = multimodal.decode_wav(bytes(row.payload))
        got_arr, got_rate = multimodal.decode_wav(bytes(out[row.media_id].payload))
        assert got_rate == 16000
        m = max(int(round(src.shape[0] * 16000 / rate)), 1)
        assert got_arr.shape[0] == m == out[row.media_id].n_samples
        dst_t = np.arange(m) / 16000
        src_t = np.arange(src.shape[0]) / rate
        for c in range(src.shape[1]):
            want = np.clip(
                np.round(np.interp(dst_t, src_t, src[:, c].astype("float64"))),
                -32768, 32767,
            ).astype("int16")
            assert (got_arr[:, c] == want).all()
    # spectral sanity: a pure tone's dominant frequency survives
    # resampling (centroid itself drifts up from interp distortion
    # images, so assert on the argmax bin, not the weighted mean)
    t = np.arange(8000) / 8000
    tone = np.round(30000 * np.sin(2 * np.pi * 440 * t)).astype("int16")
    rs = multimodal.resample_wav(multimodal.encode_wav(tone, 8000), 16000)
    arr, rate = multimodal.decode_wav(rs)
    mag = np.abs(np.fft.rfft(arr[:, 0].astype("float64")))
    peak_hz = np.fft.rfftfreq(arr.shape[0], d=1.0 / rate)[int(mag.argmax())]
    assert abs(peak_hz - 440) < 5


def test_y4m_roundtrip_and_real_frame_sampling(spark):
    """The Y4M branch is REAL: frames round-trip bit-for-bit and the
    sampled rows carry actual luma statistics at the right frame
    indices for each clip's own fps."""
    import numpy as np

    rng = np.random.default_rng(3)
    fr = rng.integers(0, 256, size=(4, 8, 10, 3), dtype=np.uint8)
    dec, fps = multimodal.decode_y4m(multimodal.encode_y4m(fr, 30, 1))
    assert fps == 30.0 and (dec == fr).all()

    media = multimodal.synthetic_y4m_media(spark, n=8)
    rows = multimodal.sample_video_frames(media, every_ms=300).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    for row in media.collect():
        frames, fps = multimodal.decode_y4m(bytes(row.payload))
        n = frames.shape[0]
        dur_ms = n / fps * 1000
        want_ts = []
        t = 0.0
        while t < dur_ms:
            want_ts.append(int(t))
            t += 300
        got = sorted(by_id[row.media_id], key=lambda r: r.t_ms)
        assert [g.t_ms for g in got] == want_ts
        for g in got:
            idx = min(int(round(g.t_ms / 1000 * fps)), n - 1)
            assert g.frame_idx == idx
            y = frames[idx, :, :, 0].astype("float64")
            assert g.luma_mean == pytest.approx(float(y.mean()))
            assert g.luma_std == pytest.approx(float(y.std()))


def test_y4m_scene_cut_detection(spark):
    """Each synthetic clip plants exactly one hard luma jump at its
    midpoint; the shot-boundary detector at threshold 30 flags it (and
    nothing else) on real pixels."""
    media = multimodal.synthetic_y4m_media(spark, n=8)
    cuts = (
        multimodal.detect_shot_boundaries(media, threshold=30.0)
        .filter("is_boundary")
        .collect()
    )
    got = {r.media_id: r for r in cuts}
    assert len(cuts) == 8  # one cut per clip, no false positives
    for row in media.collect():
        frames, fps = multimodal.decode_y4m(bytes(row.payload))
        cut = got[row.media_id]
        assert cut.frame_idx == frames.shape[0] // 2
        assert cut.luma_delta > 100  # planted jump of ~120


def test_bmp_roundtrip_and_generic_image_dispatch(spark):
    """BMP round-trips (odd width exercises row padding); the
    magic-sniffing generic path decodes a MIXED media table of
    PNG+PPM+BMP payloads and every channel-mean matches numpy on the
    source pixels."""
    import numpy as np

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    assert (multimodal.decode_bmp(multimodal.encode_bmp(img)) == img).all()

    arrays, rows = {}, []
    for i in range(9):
        a = rng.integers(0, 256, size=(6 + i % 3, 5 + i % 4, 3), dtype=np.uint8)
        enc = (multimodal.encode_png, multimodal.encode_ppm, multimodal.encode_bmp)[i % 3]
        mime = ("image/png", "image/x-portable-pixmap", "image/bmp")[i % 3]
        arrays[i] = a
        rows.append((i, "image", mime, enc(a), a.shape[1], a.shape[0], None))
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r
             for r in multimodal.extract_image_features(media).collect()}
    assert len(feats) == 9
    for i, a in arrays.items():
        got = feats[i]
        assert (got.width, got.height) == (a.shape[1], a.shape[0])
        assert got.channel_means == pytest.approx(
            [float(m) for m in a.mean(axis=(0, 1))]
        )


# -- segment-level (CCNet-style) dedup --------------------------------------


def test_segment_dedup_planted_duplicates(spark):
    """A segment planted in three docs survives only in the earliest
    (doc_id, position); docs reassemble from surviving segments in
    order; a doc made entirely of earlier segments becomes an empty
    shell (kept, clean_text='')."""
    boiler = "copy right all reserved here"  # 5 words; window=5 below
    rows = [
        (1, boiler + " alpha beta gamma delta eps"),
        (2, "uniq two words here now " + boiler),
        (3, boiler),  # all segments seen earlier -> empty shell
        (4, "totally fresh text nothing shared"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.segment_dedup(docs, window=5).collect()}
    assert len(out) == 4
    assert out[1].clean_text == boiler + " alpha beta gamma delta eps"
    assert out[1].n_segments == 2 and out[1].n_kept == 2
    assert out[2].clean_text == "uniq two words here now"
    assert out[2].n_segments == 2 and out[2].n_kept == 1
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert out[3].n_segments == 1
    assert out[4].clean_text == "totally fresh text nothing shared"


def test_segment_dedup_partial_tail_segment(spark):
    """Documents whose word count is not a multiple of the window
    produce a short final segment, deduped like any other."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "d e")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.segment_dedup(docs, window=3).collect()}
    # doc 1: segments ["a b c", "d e"]; doc 2: ["d e"] (dup of doc 1's tail)
    assert out[1].n_segments == 2 and out[1].n_kept == 2
    assert out[2].n_segments == 1 and out[2].n_kept == 0
    assert out[2].clean_text == ""


# -- exact-substring (repeated k-gram span) dedup ---------------------------


def test_remove_repeated_spans_planted(spark):
    """A verbatim 6-word span copied into a later doc is cut from the
    copy at ANY alignment (sliding windows, unlike segment tiling);
    the first occurrence and all unique text survive; docs shorter
    than k pass through untouched."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "intro words then beta gamma delta epsilon zeta eta tail words"),
        (3, "totally different tokens nothing shared here at all"),
        (4, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.remove_repeated_spans(docs, k=6).collect()}
    assert out[1].clean_text == rows[0][1] and out[1].n_removed == 0
    # the copied span sits at token offset 3 in doc 2 — mid-segment,
    # the alignment segment_dedup(window=6) would miss
    assert out[2].clean_text == "intro words then tail words"
    assert out[2].n_tokens == 11 and out[2].n_removed == 6
    assert out[3].n_removed == 0
    assert out[4].clean_text == "tiny doc" and out[4].n_tokens == 2


def test_remove_repeated_spans_within_doc_repeat(spark):
    """A span repeated WITHIN one document is also cut after its first
    occurrence (ExactSubstr semantics: >= 2 corpus occurrences, same
    doc or not)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f a b c d e f")], "doc_id long, text string"
    )
    out = dedup.remove_repeated_spans(docs, k=6).collect()[0]
    assert out.n_tokens == 12 and out.n_removed == 6
    assert out.clean_text == "a b c d e f"


def test_remove_repeated_spans_matches_pure_python_reference(spark):
    """remove_repeated_spans vs an independent pure-Python
    implementation of the spec (every token covered by a non-first
    occurrence of a duplicated k-gram is removed) on randomized
    heavily-duplicated corpora."""
    import random
    from collections import defaultdict

    def reference(docs, k):
        occ = defaultdict(list)
        toks = {}
        for did, text in sorted(docs):
            w = text.strip().split()
            toks[did] = w
            for i in range(len(w) - k + 1):
                occ[tuple(w[i : i + k])].append((did, i))
        removed = defaultdict(set)
        for lst in occ.values():
            if len(lst) >= 2:
                for did, i in sorted(lst)[1:]:
                    removed[did].update(range(i, i + k))
        return {
            did: (
                len(w),
                len(removed[did] & set(range(len(w)))),
                " ".join(t for j, t in enumerate(w) if j not in removed[did]),
            )
            for did, w in toks.items()
        }

    for seed in (7, 42):
        rng = random.Random(seed)
        vocab = ["x", "y", "z", "w"]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
            for i in range(25)
        ]
        want = reference(docs, k=3)
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
            for r in dedup.remove_repeated_spans(
                spark.createDataFrame(docs, "doc_id long, text string"), k=3
            ).collect()
        }
        assert got == want, seed


def test_incremental_substring_dedup_cross_batch(spark):
    """A span whose first occurrence lives in an EARLIER batch is cut
    from a later batch via the persisted span index alone (the earlier
    batch's text is never re-read); fresh text passes through."""
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    clean1, idx = dedup.incremental_substring_dedup(b1, None, k=6)
    idx = idx.localCheckpoint(eager=True)
    assert clean1.collect()[0].n_removed == 0
    b2 = spark.createDataFrame(
        [(2, "intro words then beta gamma delta epsilon zeta eta tail"),
         (3, "totally fresh unrelated text with seven words here")],
        "doc_id long, text string",
    )
    clean2, idx2 = dedup.incremental_substring_dedup(b2, idx, k=6)
    out = {r.doc_id: r for r in clean2.collect()}
    assert out[2].clean_text == "intro words then tail"
    assert out[2].n_removed == 6
    assert out[3].n_removed == 0
    # index accumulates distinct spans only
    assert idx2.count() == idx2.select("span").distinct().count()


def test_incremental_substring_dedup_equals_global(spark):
    """Sequential batches in doc-id order == the global operator, on
    randomized heavily-duplicated corpora (the ExactSubstr analog of
    the incremental-exact equivalence pin)."""
    import random

    for seed in (5, 23):
        rng = random.Random(seed)
        vocab = ["x", "y", "z", "w"]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
            for i in range(24)
        ]
        want = {
            (r.doc_id, r.n_tokens, r.n_removed, r.clean_text)
            for r in dedup.remove_repeated_spans(
                spark.createDataFrame(docs, "doc_id long, text string"), k=3
            ).collect()
        }
        got = set()
        idx = None
        for lo in range(0, 24, 8):
            batch = spark.createDataFrame(
                docs[lo : lo + 8], "doc_id long, text string"
            )
            clean, idx = dedup.incremental_substring_dedup(batch, idx, k=3)
            idx = idx.localCheckpoint(eager=True)
            got.update(
                (r.doc_id, r.n_tokens, r.n_removed, r.clean_text)
                for r in clean.collect()
            )
        assert got == want, seed


# -- baseline JPEG codec (operators/jpeg) -----------------------------------


def test_jpeg_dct_and_zigzag_against_spec():
    """Structural spec checks that do NOT depend on our own encoder:
    the generated zigzag matches the published scan order, a flat
    block transforms to a lone DC coefficient of 8x the level, and the
    DCT matrix is orthonormal."""
    import numpy as np

    from sparkplans.operators import jpeg

    assert jpeg.zigzag_order()[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert jpeg.zigzag_order()[-3:] == [(6, 7), (7, 6), (7, 7)]
    co = jpeg.fdct2(np.full((8, 8), 37.0))
    assert abs(co[0, 0] - 8 * 37) < 1e-9
    assert np.abs(co).sum() - abs(co[0, 0]) < 1e-9
    rng = np.random.default_rng(1)
    x = rng.normal(size=(8, 8))
    assert np.allclose(jpeg.idct2(jpeg.fdct2(x)), x)


def test_jpeg_roundtrip_quality():
    """Flat colors reconstruct within quantization error; smooth
    gradients round-trip above 30 dB PSNR at q=90; odd dimensions
    (edge-replication padding) crop back exactly."""
    import numpy as np

    from sparkplans.operators import jpeg

    flat = np.full((16, 24, 3), 113, dtype=np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(flat, quality=85))
    assert dec.shape == flat.shape
    assert np.abs(dec.astype(int) - 113).max() <= 2

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1), (xx + yy) * 3 % 200],
        axis=-1,
    ).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    mse = np.mean((dec.astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 30

    crop = img[:37, :51]
    dec2 = jpeg.decode_jpeg(jpeg.encode_jpeg(crop, quality=75))
    assert dec2.shape == crop.shape


def test_jpeg_rejects_unsupported_variants():
    import numpy as np
    import pytest as _pytest

    from sparkplans.operators import jpeg

    with _pytest.raises(ValueError, match="not a JPEG"):
        jpeg.decode_jpeg(b"hello")
    # arithmetic-coded SOF9 must raise, not mis-decode
    img = np.full((8, 8, 3), 50, dtype=np.uint8)
    enc = bytearray(jpeg.encode_jpeg(img))
    sof = enc.find(b"\xff\xc0")
    enc[sof + 1] = 0xC9
    with _pytest.raises(ValueError, match="SOF0"):
        jpeg.decode_jpeg(bytes(enc))


def test_generic_image_dispatch_includes_jpeg(spark):
    """decode_image sniffs JPEG payloads; Spark-side channel means of
    a mixed PNG+JPEG media table match numpy within lossy-codec
    tolerance (exact for PNG, ~2/255 for JPEG)."""
    import numpy as np

    from sparkplans.operators import jpeg

    rng = np.random.default_rng(9)
    arrays, rows = {}, []
    for i in range(6):
        h, w = 16 + (i % 2) * 8, 24
        yy, xx = np.mgrid[0:h, 0:w]
        a = np.stack(
            [xx * 255 // (w - 1), yy * 255 // (h - 1),
             np.full((h, w), 30 * i % 255)], axis=-1,
        ).astype(np.uint8)
        if i % 2 == 0:
            payload, mime = multimodal.encode_png(a), "image/png"
        else:
            payload, mime = jpeg.encode_jpeg(a, quality=92), "image/jpeg"
        arrays[i] = a
        rows.append((i, "image", mime, payload, w, h, None))
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r
             for r in multimodal.extract_image_features(media).collect()}
    assert len(feats) == 6
    for i, a in arrays.items():
        got = feats[i]
        assert (got.width, got.height) == (a.shape[1], a.shape[0])
        want = a.mean(axis=(0, 1))
        tol = 1e-6 if i % 2 == 0 else 2.0
        assert np.abs(np.array(got.channel_means) - want).max() <= tol


# -- incremental exact dedup ------------------------------------------------


def test_incremental_exact_dedup_cross_and_within_batch(spark):
    """Batch 1 seeds the index; batch 2 drops cross-batch dups (vs the
    index), keeps only the lowest-id copy of within-batch dups, and
    the returned index accumulates every fingerprint seen so far."""
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    clean1, seen1 = dedup.incremental_exact_dedup(b1, None)
    assert sorted(r.doc_id for r in clean1.collect()) == [1, 2]
    assert seen1.count() == 2

    seen1 = seen1.localCheckpoint()  # persisted-index stand-in
    b2 = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),      # cross-batch dup (normalized)
            (11, "epsilon zeta"),      # fresh
            (12, "epsilon  ZETA"),     # within-batch dup of 11
            (13, "eta theta"),         # fresh
        ],
        "doc_id long, text string",
    )
    clean2, seen2 = dedup.incremental_exact_dedup(b2, seen1)
    assert sorted(r.doc_id for r in clean2.collect()) == [11, 13]
    # index now holds all 4 distinct fingerprints
    assert seen2.count() == 4
    # re-running batch 2 against the updated index yields nothing new
    clean3, _ = dedup.incremental_exact_dedup(b2, seen2.localCheckpoint())
    assert clean3.count() == 0


def test_incremental_near_dedup_against_signature_index(spark):
    """Batch 1 seeds the signature index; in batch 2 a planted
    near-clone of an indexed doc (one word changed out of 12) dies, a
    fresh doc survives, and the index grows by exactly the survivors'
    signatures.  The corpus text is never consulted after batch 1 —
    only its minhash signatures."""
    base = (
        "the quick brown fox jumps over a lazy dog near the big "
        "river bank today while birds sing loud songs"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different words in this document here")],
        "doc_id long, text string",
    )
    clean1, idx1 = dedup.incremental_near_dedup(b1, None)
    assert clean1.count() == 2 and idx1.count() == 2

    idx1 = idx1.localCheckpoint()
    b2 = spark.createDataFrame(
        [
            (10, base.replace("loud", "soft")),     # near-clone of doc 1
            (11, "fresh unrelated content that matches nothing at all"),
        ],
        "doc_id long, text string",
    )
    clean2, idx2 = dedup.incremental_near_dedup(b2, idx1, threshold=0.5)
    assert sorted(r.doc_id for r in clean2.collect()) == [11]
    assert sorted(r.doc_id for r in idx2.select("doc_id").collect()) == [1, 2, 11]
    # survivor's signature now guards future batches
    b3 = spark.createDataFrame(
        [(20, "fresh unrelated content that matches nothing at all")],
        "doc_id long, text string",
    )
    clean3, _ = dedup.incremental_near_dedup(b3, idx2.localCheckpoint(), threshold=0.5)
    assert clean3.count() == 0


def test_image_near_dups_cross_format(spark):
    """The image-dedup showcase: the same picture stored as PNG and as
    JPEG (lossy!) is found as a near-dup pair by dHash banding +
    Hamming verify; unrelated images don't pair."""
    import numpy as np

    from sparkplans.operators import jpeg

    rng = np.random.default_rng(21)
    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    # smooth structured image (noise-free so JPEG stays close)
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1), (xx * yy) % 151],
        axis=-1,
    ).astype("uint8")
    other = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    rows = [
        (1, "image", "image/png", multimodal.encode_png(img), w, h, None),
        (2, "image", "image/jpeg", jpeg.encode_jpeg(img, quality=90), w, h, None),
        (3, "image", "image/png", multimodal.encode_png(other), w, h, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    pairs = multimodal.image_near_dups(media, max_hamming=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].hamming <= 6

    hashes = {r.media_id: r.dhash for r in multimodal.image_dhash(media).collect()}
    assert bin((hashes[1] ^ hashes[2]) & (2**64 - 1)).count("1") <= 6
    assert bin((hashes[1] ^ hashes[3]) & (2**64 - 1)).count("1") > 10


def test_voice_activity_detection_planted_segments(spark):
    """Clips alternate 200 ms of tone with 200 ms of silence; VAD
    recovers exactly the tone intervals (20 ms frame resolution)."""
    import numpy as np

    rate = 16000
    seg = rate // 5  # 200 ms
    rows = []
    for mid in range(3):
        t = np.arange(seg) / rate
        tone = np.round(20000 * np.sin(2 * np.pi * 440 * t)).astype("<i2")
        silence = np.zeros(seg, dtype="<i2")
        # tone, silence, tone, silence
        pcm = np.concatenate([tone, silence, tone, silence])
        rows.append(
            (mid, "audio", "audio/wav", multimodal.encode_wav(pcm, rate),
             None, None, 800)
        )
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    segs = multimodal.detect_voice_activity(media, frame_ms=20).collect()
    by_id = {}
    for s in segs:
        by_id.setdefault(s.media_id, []).append((s.seg_start_ms, s.seg_end_ms))
    assert set(by_id) == {0, 1, 2}
    for mid, got in by_id.items():
        assert sorted(got) == [(0, 200), (400, 600)]
    assert all(s.mean_rms > 0 for s in segs)


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 (the near-universal camera/web variant): MCU interleave,
    2x2 chroma averaging, and nearest upsample round-trip above 25 dB
    on gradients, exactly on flat images, and crop odd dims back."""
    import numpy as np

    from sparkplans.operators import jpeg

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1), (xx + yy) * 3 % 200],
        axis=-1,
    ).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90, subsample=True))
    assert dec.shape == img.shape
    mse = np.mean((dec.astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 25

    flat = np.full((20, 22, 3), 77, dtype=np.uint8)
    d2 = jpeg.decode_jpeg(jpeg.encode_jpeg(flat, quality=85, subsample=True))
    assert np.abs(d2.astype(int) - 77).max() <= 2

    crop = img[:37, :51]
    d3 = jpeg.decode_jpeg(jpeg.encode_jpeg(crop, quality=80, subsample=True))
    assert d3.shape == crop.shape


def test_generic_resize_real_across_formats(spark):
    """resize_images decodes with the sniffed codec, resamples real
    pixels, and re-encodes in the same container: lossless formats
    round-trip to exactly the numpy nearest-neighbor result; JPEG
    output re-decodes close to it."""
    import numpy as np

    from sparkplans.operators import jpeg

    h, w = 24, 32
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1), (xx + yy) % 200], axis=-1
    ).astype("uint8")
    rows = [
        (1, "image", "image/png", multimodal.encode_png(img), w, h, None),
        (2, "image", "image/x-portable-pixmap", multimodal.encode_ppm(img), w, h, None),
        (3, "image", "image/bmp", multimodal.encode_bmp(img), w, h, None),
        (4, "image", "image/jpeg", jpeg.encode_jpeg(img, quality=92), w, h, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: bytes(r.payload)
           for r in multimodal.resize_images(media, width=8, height=8).collect()}
    yi = np.minimum((np.arange(8) * h) // 8, h - 1)
    xi = np.minimum((np.arange(8) * w) // 8, w - 1)
    want = img[yi][:, xi]
    for mid, magic in [(1, b"\x89PN"), (2, b"P6"), (3, b"BM"), (4, b"\xff\xd8")]:
        assert out[mid].startswith(magic[:2]) or out[mid].startswith(magic)
        got = multimodal.decode_image(out[mid])
        if mid == 4:
            # JPEG path: decode(encode(resized jpeg-decoded pixels));
            # two lossy steps, so compare loosely
            src = multimodal.decode_image(bytes(rows[3][3]))
            want4 = src[yi][:, xi]
            assert np.abs(got.astype(int) - want4.astype(int)).mean() < 12
        else:
            assert (got == want).all()


def test_incremental_dedup_equals_global_dedup(spark):
    """Algebraic property: feeding batches through
    incremental_exact_dedup sequentially keeps EXACTLY the same doc
    set as exact_dedup over the whole corpus at once (ids ordered by
    batch).  Randomized corpora with heavy duplication."""
    import random

    for seed in (3, 17, 99):
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd"]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3))))
            for i in range(30)
        ]
        full = spark.createDataFrame(docs, "doc_id long, text string")
        want = sorted(r.doc_id for r in dedup.exact_dedup(full).collect())

        cut1, cut2 = 10, 20
        seen, kept = None, []
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, 30)):
            batch = spark.createDataFrame(
                docs[lo:hi], "doc_id long, text string"
            )
            clean, seen = dedup.incremental_exact_dedup(batch, seen)
            seen = seen.localCheckpoint()
            kept.extend(r.doc_id for r in clean.collect())
        assert sorted(kept) == want, (seed, sorted(kept), want)


def test_segment_dedup_matches_pure_python_reference(spark):
    """segment_dedup vs an independent pure-Python implementation of
    the same spec (global first occurrence by (doc_id, seg_no)) on
    randomized heavily-duplicated corpora."""
    import random

    def reference(docs, window):
        seen = set()
        out = {}
        for did, text in docs:
            words = text.strip().split()
            segs = [
                " ".join(words[i : i + window])
                for i in range(0, len(words), window)
            ] or [""]
            kept = []
            for s in segs:
                if s not in seen:
                    seen.add(s)
                    kept.append(s)
            out[did] = (len(segs), len(kept), " ".join(kept))
        return out

    for seed in (7, 42):
        rng = random.Random(seed)
        vocab = ["x", "y", "z", "w", "v"]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 9))))
            for i in range(25)
        ]
        # reference iterates in doc_id order == the operator's
        # (doc_id, seg_no) global ordering
        want = reference(sorted(docs), window=2)
        got = {
            r.doc_id: (r.n_segments, r.n_kept, r.clean_text)
            for r in dedup.segment_dedup(
                spark.createDataFrame(docs, "doc_id long, text string"),
                window=2,
            ).collect()
        }
        assert got == want, seed


# -- KMV bottom-k sketch ----------------------------------------------------


def test_kmv_sketch_merge_equivalence_and_estimates(spark):
    """KMV invariants: (a) merging per-part sketches equals the
    whole-corpus sketch EXACTLY (min-wise hashing); (b) the distinct
    estimate lands within 20% of truth at k=64; (c) the carried
    values estimate the median within the sample-quantile tolerance."""
    import numpy as np

    from sparkplans.operators import sketches

    ev = load_table(spark, SF_DIR, "events").select("user_id")
    whole = sketches.kmv_sketch(ev, "user_id", k=64)
    parts = [
        sketches.kmv_sketch(ev.filter(f"user_id % 3 = {i}"), "user_id", k=64)
        for i in range(3)
    ]
    merged = sketches.kmv_merge(parts, k=64)
    assert [
        (r.value, r.h) for r in whole.collect()
    ] == [(r.value, r.h) for r in merged.collect()]

    rows = whole.collect()
    true_distinct = ev.distinct().count()
    est = sketches.kmv_distinct_estimate(rows, k=64)
    assert abs(est - true_distinct) / true_distinct < 0.20, (est, true_distinct)

    # hash-order values are a uniform sample of the distinct set:
    # their median approximates the distinct-value median
    sample_median = float(np.median([int(r.value) for r in rows]))
    true_median = float(
        np.median([int(r.user_id) for r in ev.distinct().collect()])
    )
    spread = true_distinct  # user ids are ~uniform over their range
    assert abs(sample_median - true_median) <= 0.25 * spread


def test_kmv_sketch_exact_below_capacity(spark):
    """A value set smaller than k is carried exactly (the sketch IS
    the distinct set) and the estimator returns the exact count."""
    from sparkplans.operators import sketches

    df = spark.createDataFrame([(i % 7,) for i in range(100)], "v long")
    sk = sketches.kmv_sketch(df, "v", k=64).collect()
    assert len(sk) == 7
    assert sketches.kmv_distinct_estimate(sk, k=64) == 7.0


def test_jpeg_progressive_roundtrip_matches_baseline():
    """Progressive (SOF2) decode: the multi-scan layout — DC
    successive approximation + per-component spectral-selection AC
    bands — must reconstruct EXACTLY the same pixels as the baseline
    encoding of the same source (identical coefficients, independent
    scan structure), for even, odd, and tiny dimensions."""
    import numpy as np

    from sparkplans.operators import jpeg

    for h, w in ((40, 56), (37, 51), (8, 8), (5, 11)):
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [
                xx * 255 // max(w - 1, 1),
                yy * 255 // max(h - 1, 1),
                (xx + yy) * 3 % 200,
            ],
            axis=-1,
        ).astype(np.uint8)
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=88))
        prog = jpeg.decode_jpeg(
            jpeg.encode_jpeg(img, quality=88, progressive=True)
        )
        assert prog.shape == img.shape
        assert (prog == base).all(), (h, w)


def test_gif_codec_and_animated_frame_sampling(spark):
    """GIF branch: exact-palette round trips (plain, interlaced,
    animated with delays); decode_image returns the first frame; and
    animated frame sampling walks the stream's own delay timeline."""
    import numpy as np

    from sparkplans.operators import gif

    rng = np.random.default_rng(13)
    cols = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
    anim = np.stack(
        [cols[rng.integers(0, 64, size=(10, 14))] for _ in range(3)]
    )
    payload = gif.encode_gif(anim, delays_ms=[100, 200, 100])
    frames, delays = gif.decode_gif(payload)
    assert (frames == anim).all() and delays == [100, 200, 100]
    assert (multimodal.decode_image(payload) == anim[0]).all()
    inter = gif.encode_gif(anim[0], interlace=True)
    assert (multimodal.decode_image(inter) == anim[0]).all()

    media = spark.createDataFrame(
        [(1, "image", "image/gif", payload, 14, 10, 400)],
        multimodal.MEDIA_SCHEMA,
    )
    rows = sorted(
        multimodal.sample_video_frames(media, every_ms=100).collect(),
        key=lambda r: r.t_ms,
    )
    # timeline: frame0 at 0, frame1 at 100+200ms, frame2 at 300
    assert [(r.t_ms, r.frame_idx) for r in rows] == [
        (0, 0), (100, 1), (200, 1), (300, 2),
    ]
    for r in rows:
        y = (
            0.299 * anim[r.frame_idx, :, :, 0]
            + 0.587 * anim[r.frame_idx, :, :, 1]
            + 0.114 * anim[r.frame_idx, :, :, 2]
        )
        assert r.luma_mean == pytest.approx(float(y.mean()))


def test_frame_sampling_mixed_media_table(spark):
    """One sample_video_frames call over a table holding a Y4M clip,
    an animated GIF stored as an image, a PNG image and an MP3 audio
    row samples exactly the Y4M and GIF rows."""
    import numpy as np

    from sparkplans.operators import gif, mediaprobe

    clip = np.zeros((3, 6, 8, 3), dtype="uint8")
    anim = np.stack([np.full((6, 8, 3), 40 * f, dtype="uint8") for f in range(3)])
    rows = [
        (1, "video", "video/x-yuv4mpeg", multimodal.encode_y4m(clip, 10, 1),
         8, 6, 300),
        (2, "image", "image/gif", gif.encode_gif(anim, delays_ms=[100, 100, 100]),
         8, 6, 300),
        (3, "image", "image/png", multimodal.encode_png(anim[0]), 8, 6, None),
        (4, "audio", "audio/mpeg",
         mediaprobe.build_mp3_header(192, 48000, mono=True, n_frames=50),
         None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = multimodal.sample_video_frames(media, every_ms=100).collect()
    assert {r.media_id for r in got} == {1, 2}


def test_g711_wav_support(spark):
    """G.711 telephony WAVs (format 7 mu-law / 6 A-law) decode through
    the same decode_wav path: mu-law compress/expand is the standard
    255-fixpoint byte involution, container round-trips keep the
    G.711 quantization bound, and the feature extractor consumes a
    mu-law media table unchanged."""
    import numpy as np

    bytes_in = np.arange(256, dtype=np.uint8)
    back = np.frombuffer(
        multimodal.mulaw_compress(multimodal._mulaw_expand(bytes_in)),
        dtype=np.uint8,
    )
    assert (back == bytes_in).sum() == 255  # 0x7F/0xFF negative-zero pair

    t = np.arange(800) / 8000
    tone = np.round(12000 * np.sin(2 * np.pi * 300 * t)).astype(np.int16)
    for law in ("mulaw", "alaw"):
        dec, rate = multimodal.decode_wav(
            multimodal.encode_wav_g711(tone, 8000, law=law)
        )
        assert rate == 8000 and dec.shape == (800, 1)
        rel = np.abs(dec[:, 0].astype(int) - tone.astype(int)) / np.maximum(
            np.abs(tone.astype(int)), 64
        )
        assert rel.max() <= 0.13  # half-step G.711 quantization bound

    media = spark.createDataFrame(
        [(1, "audio", "audio/wav",
          multimodal.encode_wav_g711(tone, 8000, law="mulaw"), None, None, 100)],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.decode_wav_features(media).collect()
    assert len(feats) == 1 and feats[0].sample_rate == 8000
    assert feats[0].n_samples == 800


def test_media_metadata_probes(spark):
    """Container probes for the stubbed-bitstream formats: MP4 box
    walk yields duration + track codecs; MP3 frame headers yield
    bitrate/rate/mode + the CBR duration estimate — through the same
    mapInPandas flow, no bitstream decode anywhere."""
    from sparkplans.operators import mediaprobe

    rows = [
        (1, "video", "video/mp4",
         mediaprobe.build_minimal_mp4(duration_ms=4200), None, None, 4200),
        (2, "audio", "audio/mpeg",
         mediaprobe.build_mp3_header(192, 48000, mono=True, n_frames=50),
         None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.extract_media_metadata(media).collect()}
    assert got[1].container == "mp4" and got[1].duration_ms == 4200
    assert got[1].detail == "vide:avc1,soun:mp4a"
    assert got[2].container == "mp3"
    assert got[2].detail.startswith("192kbps:48000Hz:mono")
    assert got[2].duration_ms > 0


def test_audio_near_dups_constellation(spark):
    """Audio dedup showcase: the same tone sequence re-encoded through
    G.711 mu-law (lossy) matches its PCM original with many aligned
    landmark hashes; a different tone sequence does not pair."""
    import numpy as np

    rate = 8000

    def tone_seq(freqs):
        segs = []
        for f in freqs:
            t = np.arange(rate // 5) / rate  # 200 ms per tone
            segs.append(np.round(16000 * np.sin(2 * np.pi * f * t)))
        return np.concatenate(segs).astype(np.int16)

    melody = tone_seq([440, 660, 550, 880, 495, 770])
    # a genuinely different melody (far-separated bins; a ~5%
    # detune would share bins through spectral leakage by design —
    # constellation hashing is deliberately robust to small shifts)
    other = tone_seq([300, 1200, 700, 1500, 350, 2000])
    rows = [
        (1, "audio", "audio/wav", multimodal.encode_wav(melody, rate), None, None, 1200),
        (2, "audio", "audio/wav",
         multimodal.encode_wav_g711(melody, rate, law="mulaw"), None, None, 1200),
        (3, "audio", "audio/wav", multimodal.encode_wav(other, rate), None, None, 1200),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    pairs = {(r.id_a, r.id_b): r.n_matches
             for r in multimodal.audio_near_dups(media, min_matches=50).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 50
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_video_near_dups_frame_dhash(spark):
    """Video dedup: a mildly noised re-render of the same clip pairs
    with the original via per-frame luma dHashes; an unrelated clip
    does not."""
    import numpy as np

    rng = np.random.default_rng(31)
    h, w, n = 32, 48, 6
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.zeros((n, h, w, 3), dtype=np.uint8)
    for f in range(n):
        base[f, :, :, 0] = ((xx * 2 + yy + 12 * f) % 200).astype("uint8")
        base[f, :, :, 1:] = 128
    noised = base.copy()
    noised[:, :, :, 0] = np.clip(
        noised[:, :, :, 0].astype(int) + rng.integers(-2, 3, (n, h, w)), 0, 255
    ).astype("uint8")
    other = np.zeros_like(base)
    for f in range(n):
        other[f, :, :, 0] = rng.integers(0, 256, (h, w)).astype("uint8")
        other[f, :, :, 1:] = 128
    rows = [
        (i, "video", "video/x-yuv4mpeg", encode, w, h, 600)
        for i, encode in (
            (1, multimodal.encode_y4m(base, 10, 1)),
            (2, multimodal.encode_y4m(noised, 10, 1)),
            (3, multimodal.encode_y4m(other, 10, 1)),
        )
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    pairs = {(r.id_a, r.id_b): r.n_matching_frames
             for r in multimodal.video_near_dups(media).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_media_near_dups_cross_modal_facade(spark):
    """One media table with planted dups in every modality; the
    facade finds exactly the image, audio, and video pairs."""
    import numpy as np

    from sparkplans.operators import jpeg

    rng = np.random.default_rng(77)
    # image pair: same picture as PNG and JPEG
    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1), (xx * yy) % 151], axis=-1
    ).astype("uint8")
    # audio pair: melody as PCM and mu-law
    rate = 8000

    def tone_seq(freqs):
        return np.concatenate(
            [np.round(16000 * np.sin(2 * np.pi * f * np.arange(rate // 5) / rate))
             for f in freqs]
        ).astype(np.int16)

    mel = tone_seq([440, 660, 550, 880, 495, 770])
    # video pair: clip and its noised re-render
    vb = np.zeros((6, h, w, 3), dtype=np.uint8)
    for f in range(6):
        vb[f, :, :, 0] = ((xx * 2 + yy + 12 * f) % 200).astype("uint8")
        vb[f, :, :, 1:] = 128
    vn = vb.copy()
    vn[:, :, :, 0] = np.clip(
        vn[:, :, :, 0].astype(int) + rng.integers(-2, 3, vn.shape[:3]), 0, 255
    ).astype("uint8")
    rows = [
        (1, "image", "image/png", multimodal.encode_png(img), w, h, None),
        (2, "image", "image/jpeg", jpeg.encode_jpeg(img, quality=90), w, h, None),
        (3, "audio", "audio/wav", multimodal.encode_wav(mel, rate), None, None, 1200),
        (4, "audio", "audio/wav",
         multimodal.encode_wav_g711(mel, rate, law="mulaw"), None, None, 1200),
        (5, "video", "video/x-yuv4mpeg", multimodal.encode_y4m(vb, 10, 1), w, h, 600),
        (6, "video", "video/x-yuv4mpeg", multimodal.encode_y4m(vn, 10, 1), w, h, 600),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {(r.kind, r.id_a, r.id_b) for r in multimodal.media_near_dups(media).collect()}
    assert got == {("image", 1, 2), ("audio", 3, 4), ("video", 5, 6)}


def test_range_join_preserves_duplicates_no_dedup_shuffle(spark):
    """Multiset semantics: duplicate left rows each match (the old
    trailing distinct() collapsed them); and the banded join plans
    without a post-join dedup exchange."""
    from sparkplans import plans

    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:00")]
    a = spark.createDataFrame(rows, "id int, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("ts")
    )
    b = spark.createDataFrame(
        [(7, "2024-01-01 00:30:00")], "eb int, tsb string"
    ).select("eb", F.col("tsb").cast("timestamp").alias("tsb"))
    got = asof.range_join(a, b, "ts", "tsb", 0, 3600)
    assert got.count() == 2  # one match per duplicate left row
    # bucket equi-join shuffles only; no dedup exchange afterwards
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts")
    ev2 = ev.select(F.col("event_id").alias("eb"), F.col("ts").alias("tsb"))
    big = asof.range_join(ev, ev2, "ts", "tsb", 0, 3600)
    assert plans.num_exchanges(big) <= 2, plans.physical_plan_str(big)


def test_interval_overlap_join_matches_naive(spark):
    """Bucketed interval-overlap equals the nested-loop oracle on a
    small frame — including intervals spanning MANY buckets (the
    owner-bucket rule must emit each overlapping pair exactly once,
    with no dropDuplicates exchange in the plan)."""
    from sparkplans import plans

    mk = lambda rows, s, e: spark.createDataFrame(  # noqa: E731
        rows, f"id int, {s} string, {e} string"
    ).select(
        "id",
        F.col(s).cast("timestamp").alias(s),
        F.col(e).cast("timestamp").alias(e),
    )
    left = mk(
        [
            (1, "2024-01-01 00:00:00", "2024-01-01 10:00:00"),  # 20 buckets
            (2, "2024-01-01 03:00:00", "2024-01-01 03:10:00"),
            (3, "2024-01-02 00:00:00", "2024-01-02 01:00:00"),
            (4, "2024-01-01 09:59:59", "2024-01-01 23:00:00"),
        ],
        "ls",
        "le",
    )
    right = mk(
        [
            (10, "2024-01-01 02:00:00", "2024-01-01 04:00:00"),
            (11, "2024-01-01 09:00:00", "2024-01-01 12:00:00"),
            (12, "2024-01-01 10:00:00", "2024-01-01 10:30:00"),  # abuts 1
            (13, "2024-01-03 00:00:00", "2024-01-03 01:00:00"),
        ],
        "rs",
        "re",
    )
    got = asof.interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_seconds=1800
    )
    pairs = sorted((r.id, r.right_id) for r in got.collect())
    want = sorted(
        (l.id, r.id)
        for l in left.collect()
        for r in right.collect()
        if l.ls < r.re and r.rs < l.le  # half-open: abutting ≠ overlap
    )
    assert pairs == want == [(1, 10), (1, 11), (2, 10), (4, 11), (4, 12)]
    assert "dropDuplicates" not in plans.physical_plan_str(got)


def test_interval_overlap_join_with_keys(spark):
    """Per-key overlap: pairs must share the extra equi-key, and the
    multiset contract holds (duplicate inputs each pair up)."""
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k int, id int, s string, e string"
    ).select(
        "k",
        "id",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    left = mk(
        [
            (1, 1, "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
            (2, 1, "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
            (1, 2, "2024-01-01 00:30:00", "2024-01-01 01:00:00"),
            (1, 2, "2024-01-01 00:30:00", "2024-01-01 01:00:00"),  # dup row
        ]
    )
    right = mk([(1, 9, "2024-01-01 01:00:00", "2024-01-01 03:00:00")])
    got = asof.interval_overlap_join(
        left,
        right.select("k", F.col("id").alias("rid"), "s", "e"),
        "s",
        "e",
        "s",
        "e",
        bucket_seconds=3600,
        keys=["k"],
    )
    # key 2's identical interval must NOT match key 1's right row; the
    # [00:30, 01:00) interval abuts [01:00, ...) => no overlap; dup of
    # it contributes nothing either.  Only (k=1, id=1) overlaps.
    assert [(r.id, r.right_rid) for r in got.collect()] == [(1, 9)]


def test_interval_overlap_join_randomized_trials(spark):
    """40 seeded random interval sets — varied lengths (zero-width to
    many-bucket spans), clustered starts, boundary abutments — all run
    as ONE bucketed join (trial id as the extra equi-key) and compared
    trial-by-trial against a python nested-loop oracle."""
    import random

    rng = random.Random(20260815)
    base = 1_700_000_000
    rows_l, rows_r, want = [], [], set()
    trials = []
    for t in range(40):
        nl, nr = rng.randint(0, 8), rng.randint(0, 8)
        mk = lambda n: [  # noqa: E731
            (s, s + rng.choice([0, 1, 59, 60, 1800, 3600, 7200, 40000]))
            for s in (
                base + rng.randrange(0, 90000, 30) for _ in range(n)
            )
        ]
        L, R = mk(nl), mk(nr)
        trials.append((t, L, R))
        rows_l += [(t, i, s, e) for i, (s, e) in enumerate(L)]
        rows_r += [(t, i, s, e) for i, (s, e) in enumerate(R)]
        want |= {
            (t, i, j)
            for i, (ls, le) in enumerate(L)
            for j, (rs, re) in enumerate(R)
            if ls < re and rs < le
        }
    to_df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "trial int, id int, s long, e long"
    ).select(
        "trial",
        "id",
        F.timestamp_seconds("s").alias("s"),
        F.timestamp_seconds("e").alias("e"),
    )
    got = asof.interval_overlap_join(
        to_df(rows_l),
        to_df(rows_r).withColumnRenamed("id", "rid"),
        "s",
        "e",
        "s",
        "e",
        bucket_seconds=3600,
        keys=["trial"],
    )
    assert {(r.trial, r.id, r.right_rid) for r in got.collect()} == want
    assert got.count() == len(want)  # exactly-once even across buckets


def test_jpeg_ac_successive_approximation_refinement():
    """The AC-SA refinement scans (Ah=1, Al=0) are exercised and
    bit-exact: content crafted so refinement hits every structural
    case — |coef|=1 newly-significant (sign symbols), |coef|>1
    correction bits (odd and even), zero runs > 16 (ZRL-vs-EOB
    folding), corrections interleaved inside runs — and random noise
    across qualities.  Every progressive decode must equal the
    baseline decode of the same source exactly."""
    import numpy as np

    from sparkplans.operators import jpeg

    rng = np.random.default_rng(42)
    cases = []
    # sparse high-frequency dots: long zero runs + tiny coefficients
    img = np.full((24, 24, 3), 128, dtype=np.uint8)
    img[::7, ::7] = (135, 120, 131)
    cases.append(img)
    # strong texture: large coefficients -> many correction bits
    yy, xx = np.mgrid[0:32, 0:40]
    cases.append(
        (np.stack([(xx * 37) % 256, (yy * 53) % 256, (xx * yy) % 256], axis=-1))
        .astype(np.uint8)
    )
    # pure noise at several qualities
    for q in (35, 60, 88, 95):
        noise = rng.integers(0, 256, size=(17, 29, 3), dtype=np.uint8)
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(noise, quality=q))
        prog = jpeg.decode_jpeg(jpeg.encode_jpeg(noise, quality=q, progressive=True))
        assert (prog == base).all(), f"noise q={q}"
    for i, img in enumerate(cases):
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=85))
        prog = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=85, progressive=True))
        assert (prog == base).all(), f"case {i}"
    # the stream really contains AC refinement scans (Ah=1 SOS headers)
    payload = jpeg.encode_jpeg(cases[0], quality=85, progressive=True)
    sos_ah_al = []
    i = 2
    while i < len(payload) - 1:
        if payload[i] == 0xFF and payload[i + 1] == 0xDA:
            ln = int.from_bytes(payload[i + 2 : i + 4], "big")
            sos_ah_al.append(payload[i + 2 + ln - 1])  # (Ah<<4)|Al byte
            i += 2 + ln
        else:
            i += 1
    assert any(b >> 4 == 1 and b & 0xF == 0 for b in sos_ah_al), sos_ah_al


def test_connected_components_long_chain_converges(spark):
    """A 200-node path graph has diameter 199: plain neighbor-min
    propagation silently under-merges it within 20 rounds (the sf1
    regression — LSH collision chains split one component into
    several); pointer jumping converges in O(log d) rounds and the
    whole chain must label as component 0."""
    from sparkplans.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    labels = dedup.connected_components(pairs, max_iter=12)
    got = {r.node: r.comp for r in labels.collect()}
    assert len(got) == 200
    assert set(got.values()) == {0}


def test_connected_components_raises_when_iters_exhausted(spark):
    """Non-convergence must be loud, never a silently under-merged
    labeling."""
    import pytest as _pytest

    from sparkplans.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2)
